"""Unit tests for the cleaning pipeline, plan model, dedup helpers,
and multimodal plumbing (reference-parity behaviors from SURVEY.md §2)."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cleaning import (
    clean_pipeline,
    fix_col_name,
    normalize_column_names,
    trim_string_columns,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
    coalesce_tier,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
    decode_image_meta,
    extract_features,
    make_synthetic_assets,
    resize_images,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
    to_spark_sql,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
    ExtractionPlan,
    execution_hash_id,
)
from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
    SourceRegistry,
)


# ---- P2: identifier normalization (sybaseiq_extractor.py:114-115) ----


@pytest.mark.parametrize(
    "raw,fixed",
    [
        ("Row ID", "row_id"),
        (" Line-Number ", "line_number"),
        ("Sales$", "sales_"),
        ("already_ok_9", "already_ok_9"),
        ("Ünïcode", "_n_code"),
    ],
)
def test_fix_col_name(raw, fixed):
    assert fix_col_name(raw) == fixed


def test_normalize_and_trim(spark):
    df = spark.createDataFrame(
        [(1, "  padded  ", "x")], ["Row ID", "Text Col", "migration_ExecutionHashId"]
    )
    out = trim_string_columns(normalize_column_names(df))
    assert out.columns == ["row_id", "text_col", "migration_executionhashid"]
    row = out.first()
    assert row.text_col == "padded"
    # the hash column is exempt from trimming (sybaseiq_extractor.py:104)
    assert row.migration_executionhashid == "x"


def test_clean_pipeline_temporal_partition(spark):
    df = spark.createDataFrame(
        [(1, date(2024, 3, 7), " v ")], ["ID", "Load Date", "Val"]
    )
    out, keys = clean_pipeline(
        df, "deadbeef", datetime(2024, 1, 1), partition_column="Load Date"
    )
    assert keys == ["year", "month", "day"]
    row = out.first()
    # unpadded month/day (sybaseiq_extractor.py:171-174)
    assert (row.year, row.month, row.day) == ("2024", "3", "7")
    assert row.val == "v"
    assert row.migration_ExecutionHashId == "deadbeef"


def test_clean_pipeline_categorical_partition(spark):
    df = spark.createDataFrame([(1, "NW")], ["ID", "Region Code"])
    out, keys = clean_pipeline(df, "h", partition_column="Region Code")
    assert keys == ["region_code"]


def test_coalesce_tiers():
    # thresholds from sybaseiq_extractor.py:149-154
    assert coalesce_tier(0) == 8
    assert coalesce_tier(49_999_999) == 8
    assert coalesce_tier(50_000_000) == 16
    assert coalesce_tier(99_999_999) == 16
    assert coalesce_tier(100_000_000) == 24


# ---- plan language / dedup key (routing/lambda_function.py) ----------


def test_execution_hash_id_matches_reference_recipe():
    # md5(SourceTable + str(MigrationPart) + Query.upper().strip())
    import hashlib

    q = "  select * from t  "
    expect = hashlib.md5(f"tb1{q.upper().strip()}".encode()).hexdigest()
    assert execution_hash_id("tb", 1, q) == expect


def test_plan_sequential_hoisting():
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "s",
            "SourceDatabase": "d",
            "SourceSchema": "sch",
            "SequentialMultipleParts": True,
            "NumPartitions": "8",
            "Jobs": [
                {"SourceTable": "t", "Query": "q1", "MigrationPart": 1},
                {"SourceTable": "t", "Query": "q2", "MigrationPart": 2,
                 "NumPartitions": "4"},
            ],
        }
    )
    assert [j.migration_part for j in plan.jobs] == [1, 2]
    # job-level override beats envelope (routing hoists Jobs[0] fields)
    assert plan.jobs[0].num_partitions == 8
    assert plan.jobs[1].num_partitions == 4


def test_plan_bom_and_active_gate(tmp_path):
    p = tmp_path / "p.json"
    p.write_bytes(
        b"\xef\xbb\xbf"
        + b'{"SourceName":"s","SourceDatabase":"d","SourceSchema":"x",'
        b'"SourceTable":"t","Query":"q","Active":false}'
    )
    plan = ExtractionPlan.from_file(p)
    assert plan.active is False  # dropped at intake by the orchestrator


def test_plan_validation_flags_trailing_semicolon():
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "t", "Query": "SELECT 1;",
        }
    )
    assert any("';'" in p for p in plan.validate())


# ---- dialect rewriter ------------------------------------------------


def test_dialect_rewrite():
    q = "SELECT [Row ID], 'keep [this]' FROM iqdemo.dba.tb_x WHERE [Sales$] > 5;"
    out = to_spark_sql(q, {"tb_x": "tb_x_view"})
    assert out == (
        "SELECT `Row ID`, 'keep [this]' FROM tb_x_view WHERE `Sales$` > 5"
    )


def test_dialect_preserves_struct_field_access():
    """Three-part tokens NOT in table position (struct access like
    o.address.city) must survive the rewrite untouched."""
    q = "SELECT o.address.city, iqdemo.dba.fn_x FROM iqdemo.dba.orders o"
    out = to_spark_sql(q, {"orders": "orders"})
    assert "o.address.city" in out
    assert "iqdemo.dba.fn_x" in out  # not after FROM/JOIN, no prefix match
    assert "FROM orders o" in out

    # comma-join lists ARE rewritten when the (db, schema) prefix is known
    q2 = "SELECT a.x, o.address.city FROM iqdemo.dba.t1 a, iqdemo.dba.t2 b"
    out2 = to_spark_sql(q2, {"t1": "v1", "t2": "v2"}, known_prefixes={("iqdemo", "dba")})
    assert "FROM v1 a, v2 b" in out2
    assert "o.address.city" in out2


def test_jdbc_scan_options_partitioned_vs_query():
    opts = SourceRegistry.jdbc_scan_options(
        "jdbc:postgresql://h/db", "SELECT * FROM t", "u", "p",
        partition_column="id", lower_bound="1", upper_bound="100",
        num_partitions=8, engine="postgres",
    )
    assert opts["dbtable"] == "(SELECT * FROM t) q"
    assert opts["numPartitions"] == "8"
    assert opts["driver"] == "org.postgresql.Driver"
    opts2 = SourceRegistry.jdbc_scan_options(
        "jdbc:x", "SELECT 1", "u", "p", partition_column=" ")
    assert "query" in opts2 and "dbtable" not in opts2


# ---- multimodal plumbing --------------------------------------------


def test_multimodal_decode_and_features(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        synthetic_image_dims,
    )

    assets = make_synthetic_assets(spark, 12)
    meta = decode_image_meta(assets).collect()
    assert len(meta) == 12
    by_id = {m.asset_id: m for m in meta}
    for i in range(12):
        m = by_id[i]
        if i % 3 == 0:  # image: real PNG, dims must round-trip
            assert m.format == "png"
            assert (m.width, m.height) == synthetic_image_dims(i)
        elif i % 3 == 1:
            assert m.format == "wav" and m.width is None
        else:
            assert m.format == "fram" and m.width is None
    # deterministic: same payload -> same md5
    again = {m.asset_id: m.payload_md5 for m in decode_image_meta(assets).collect()}
    assert all(again[m.asset_id] == m.payload_md5 for m in meta)

    feats = extract_features(assets, dims=16).collect()
    assert len(feats) == 12
    assert all(len(f.feature) == 16 for f in feats)
    assert all(-1.0 <= v <= 1.0 for f in feats for v in f.feature)


def test_multimodal_resize_roundtrip(spark):
    """resize_images does a REAL decode→resample→re-encode: the output
    payload is a valid PNG whose decoded pixels match the driver-side
    reference kernel."""
    import numpy as np

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        png_decode_gray,
        resize_nearest,
        synthetic_image_pixels,
    )

    assets = make_synthetic_assets(spark, 6)  # assets 0 and 3 are images
    out = {r.asset_id: r for r in resize_images(assets, 48, 32).collect()}
    assert set(out) == {0, 3}
    for i in (0, 3):
        row = out[i]
        assert (row.width, row.height) == (48, 32)
        got = png_decode_gray(bytes(row.payload))
        want = resize_nearest(synthetic_image_pixels(i), 48, 32)
        assert got.shape == (32, 48)
        assert np.array_equal(got, want)


def test_png_codec_roundtrip_all_filters():
    """The PNG decoder handles every scanline filter type; the encoder
    emits filter 0 and round-trips bit-exactly."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        png_decode_gray,
        png_encode_gray,
        png_parse_meta,
    )

    rng = np.random.RandomState(7)
    pixels = rng.randint(0, 256, size=(23, 31)).astype(np.uint8)
    payload = png_encode_gray(pixels)
    assert png_parse_meta(payload) == (31, 23, 8, 0)
    assert np.array_equal(png_decode_gray(payload), pixels)

    # hand-build a PNG using filters 1..4 and check reconstruction
    h, w = pixels.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        ftype = 1 + (y % 4)
        cur = pixels[y].astype(np.int64)
        raw.append(ftype)
        for x in range(w):
            a = int(cur[x - 1]) if x else 0
            b = int(prev[x])
            c = int(prev[x - 1]) if x else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            raw.append((int(cur[x]) - pred) & 0xFF)
        prev = cur
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    filtered_png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode_gray(filtered_png), pixels)


# ---- S5 secrets / K6 maintenance / C7 conf mapping -------------------


def test_secrets_forms(tmp_path, monkeypatch):
    import base64
    import json as _json

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.secrets import (
        SecretNotFound,
        get_credentials,
        get_secret,
    )

    doc = {"user": "u1", "password": "p1"}
    # inline JSON
    assert get_credentials(_json.dumps(doc)) == ("u1", "p1")
    # env var, plain JSON
    monkeypatch.setenv("MY_SECRET", _json.dumps(doc))
    assert get_secret("MY_SECRET")["user"] == "u1"
    # env var, base64-wrapped (reference SecretBinary branch)
    monkeypatch.setenv("B64_SECRET", base64.b64encode(_json.dumps(doc).encode()).decode())
    assert get_secret("B64_SECRET")["password"] == "p1"
    # file://
    f = tmp_path / "sec.json"
    f.write_text(_json.dumps(doc))
    assert get_secret(f"file://{f}")["user"] == "u1"
    import pytest as _pytest

    with _pytest.raises(SecretNotFound):
        get_secret("NOPE_DOES_NOT_EXIST")


def test_plan_session_confs():
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        plan_session_confs,
    )

    c = plan_session_confs("G.1X", 3)  # reference default: G.1X x 3
    assert c["spark.sql.shuffle.partitions"] == "24"
    assert c["spark.executor.memory"] == "16g"
    c2 = plan_session_confs("G.2X", 11)
    assert c2["spark.executor.cores"] == "8"


def test_cluster_profile():
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        SHUFFLE_PARTITION_TARGET_BYTES,
        cluster_profile,
    )

    # G.2X x 251 ("1000-executor-core" fleet): 250 executors x 8 cores
    c = cluster_profile("G.2X", 251)
    assert c["spark.executor.instances"] == "250"  # one worker = driver
    assert c["spark.executor.cores"] == "8"
    # heap + overhead partition the 32 GiB worker (75/25)
    assert c["spark.executor.memory"] == "24g"
    assert c["spark.executor.memoryOverhead"] == "8g"
    # no input size given -> 2x total cores
    assert c["spark.sql.shuffle.partitions"] == str(250 * 8 * 2)
    # AQE fully on, broadcast ceiling raised, scan splits = shuffle target
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert c["spark.sql.autoBroadcastJoinThreshold"] == str(64 * 1024 * 1024)
    assert c["spark.sql.files.maxPartitionBytes"] == str(
        SHUFFLE_PARTITION_TARGET_BYTES
    )
    # dynamic allocation brackets [fleet/2, fleet]
    assert c["spark.dynamicAllocation.enabled"] == "true"
    assert c["spark.dynamicAllocation.minExecutors"] == "125"
    assert c["spark.dynamicAllocation.maxExecutors"] == "250"

    # 100 TB input -> input/128MiB partitions, far above the core floor
    c100 = cluster_profile("G.2X", 251, target_input_tb=100.0)
    assert int(c100["spark.sql.shuffle.partitions"]) == (
        100 * 1024**4 // SHUFFLE_PARTITION_TARGET_BYTES
    )
    # tiny input clamps at the 2x-cores floor
    c_small = cluster_profile("G.1X", 3, target_input_tb=0.001)
    assert int(c_small["spark.sql.shuffle.partitions"]) == 2 * 4 * 2

    # dynamic allocation is optional (static fleets pin instances)
    c_static = cluster_profile("G.1X", 10, dynamic_allocation=False)
    assert "spark.dynamicAllocation.enabled" not in c_static

    # the profile is get_spark-composable: every value is a string
    assert all(isinstance(v, str) for v in c.values())


def test_compact_partitions_roundtrip(spark, tmp_path):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        compact_partitions,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 3 AS STRING) AS part")
    df.repartition(8).write.partitionBy("part").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/part=*/*.parquet"))
    compact_partitions(spark, path, ["part"], target_files_per_partition=1)
    after = len(glob.glob(f"{path}/part=*/*.parquet"))
    assert after == 3 < before
    assert spark.read.parquet(path).count() == 1000


def test_sink_dynamic_partition_overwrite(spark, tmp_path):
    """K1's safe-overwrite variant: rewriting one partition leaves the
    others intact (the behavior the reference designed but disabled)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    d1 = spark.createDataFrame(
        [(1, "2024", "1"), (2, "2024", "2")], ["v", "year", "month"]
    )
    r = write_partitioned_parquet(
        d1, str(tmp_path), "lake/t", ["year", "month"], mode="append"
    )
    d2 = spark.createDataFrame([(99, "2024", "2")], ["v", "year", "month"])
    write_partitioned_parquet(
        d2, str(tmp_path), "lake/t", ["year", "month"], mode="overwrite"
    )
    out = {
        (str(row.year), str(row.month)): row.v
        for row in spark.read.parquet(r.path).collect()
    }
    assert out == {("2024", "1"): 1, ("2024", "2"): 99}


def test_sink_append_registers_new_partitions_without_msck(spark, tmp_path):
    """Steady-state appends register ONLY the just-written partitions
    via ALTER TABLE ADD PARTITION (no dataset re-read, no MSCK) — the
    100 TB catalog path. The catalog must still see every partition."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    d1 = spark.createDataFrame(
        [(1, "2024", "1"), (2, "2024", "2")], ["v", "year", "month"]
    )
    r = write_partitioned_parquet(
        d1, str(tmp_path), "lake/t2", ["year", "month"],
        target_database="db_addpart", table_name="t2", mode="append",
    )
    assert r.table == "db_addpart.t2"
    # second append: brand-new partition -> ADD PARTITION path
    d2 = spark.createDataFrame([(3, "2025", "7")], ["v", "year", "month"])
    write_partitioned_parquet(
        d2, str(tmp_path), "lake/t2", ["year", "month"],
        target_database="db_addpart", table_name="t2", mode="append",
    )
    parts = {
        tuple(p.partition.split("/"))
        for p in spark.sql("SHOW PARTITIONS db_addpart.t2").collect()
    }
    assert ("year=2024", "month=1") in parts
    assert ("year=2025", "month=7") in parts
    assert spark.sql("SELECT sum(v) AS s FROM db_addpart.t2").collect()[0].s == 6
    spark.sql("DROP TABLE db_addpart.t2")


# ---- skew / bucketing (100 TB toolkit) -------------------------------


def test_salted_join_matches_plain_join(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        salted_join,
    )

    # heavily skewed fact side: 90% of rows share key 1
    big = spark.range(0, 10_000).selectExpr(
        "id", "CASE WHEN id % 10 < 9 THEN 1 ELSE CAST(id % 100 AS BIGINT) END AS k"
    )
    dim = spark.range(0, 100).selectExpr("id AS k", "concat('v', id) AS v")
    plain = big.join(dim, "k").selectExpr("id", "v")
    salted = salted_join(big, dim, "k", salt=8, big_salt_cols=["id"]).selectExpr(
        "id", "v"
    )
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


@pytest.mark.slow
def test_bucketed_join_elides_shuffle(spark, tmp_path):
    import io
    from contextlib import redirect_stdout

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        bucketed_join_ready,
        write_bucketed,
    )

    left = spark.range(0, 5_000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 5_000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bk_left", "k", num_buckets=8)
    write_bucketed(right, "bk_right", "k", num_buckets=8)
    joined = bucketed_join_ready(spark, "bk_left", "bk_right", "k")
    assert joined.count() == 5_000
    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain()
    plan = buf.getvalue()
    # same bucket spec on both sides => no shuffle exchange in the plan
    assert "Exchange hashpartitioning" not in plan, plan
    spark.sql("DROP TABLE IF EXISTS bk_left")
    spark.sql("DROP TABLE IF EXISTS bk_right")


def test_engine_count_strategies_agree(spark, tmp_path):
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

    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "nation",
            "Query": "SELECT * FROM nation WHERE n_nationkey < 20",
            "ExpectedAmountOfRecords": 20,
        }
    )
    counts = {}
    for strategy in ("observe", "cache"):
        eng = Engine(
            spark,
            SourceRegistry(spark, parquet_root=SF_SMALL),
            EngineConfig(
                target_root=str(tmp_path / strategy),
                register_catalog=False,
                count_strategy=strategy,
                output_sizing="tiered",
            ),
        )
        r = eng.run_job(plan.jobs[0])
        assert r.status == "SUCCEEDED"
        assert r.reconcile_status == "ok"
        counts[strategy] = r.row_count
    assert counts["observe"] == counts["cache"] == 20


# ---- incremental extraction / quality checks / retry -----------------


def test_incremental_extraction_watermark(spark, tmp_path):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
        Engine,
        EngineConfig,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
        Ledger,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
        load_table,
    )
    from tests.conftest import SF_SMALL

    # mutable local source dir: first 1000 orders, later all 1500
    src = tmp_path / "src"
    full = load_table(spark, SF_SMALL, "orders")
    full.filter("o_orderkey < 1000").write.parquet(str(src / "orders.parquet"))

    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=str(src)),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
    )
    job = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "orders", "Query": "SELECT * FROM orders",
        }
    ).jobs[0]

    r1 = eng.run_incremental(job, "o_orderkey")
    assert r1.row_count == 1000
    assert eng.last_watermark(job) == "999"
    # the full run contract: ledger lifecycle row, schema, timing
    row = eng.ledger.get(job.execution_hash_id, job.source_table)
    assert row["GlueJobFinalStatus"] == "SUCCEEDED"
    assert row["GlueAmountOfRecords"] == 1000
    assert r1.final_schema
    assert r1.execution_time_s > 0

    # no new data -> zero-row increment, watermark unchanged
    r2 = eng.run_incremental(job, "o_orderkey")
    assert r2.row_count == 0
    assert eng.last_watermark(job) == "999"

    # new data arrives
    full.write.mode("overwrite").parquet(str(src / "orders.parquet"))
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources import registry

    registry._VIEW_CACHE.clear()  # force re-registration of the mutated source
    r3 = eng.run_incremental(job, "o_orderkey")
    assert r3.row_count == 500
    assert eng.last_watermark(job) == "1499"

    # lake holds exactly one copy of each row
    lake = spark.read.parquet(str(tmp_path / "lake" / "s" / "x" / "orders"))
    assert lake.count() == 1500
    assert lake.select("o_orderkey").distinct().count() == 1500


def test_incremental_watermark_numeric_not_lexicographic(spark, tmp_path):
    """Regression: max over a numeric watermark must be numeric, not a
    string max — lexicographically '9' > '10', which would regress the
    stored watermark and re-extract (duplicate) already-loaded rows."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
        Engine,
        EngineConfig,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
        Ledger,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources import registry
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
    )

    src = tmp_path / "src"
    spark.range(0, 11).toDF("o_orderkey").write.parquet(str(src / "orders.parquet"))

    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=str(src)),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
    )
    job = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "orders", "Query": "SELECT * FROM orders",
        }
    ).jobs[0]

    r1 = eng.run_incremental(job, "o_orderkey")
    assert r1.row_count == 11
    # string max of 0..10 is '9'; numeric max is 10
    assert eng.last_watermark(job) == "10"

    spark.range(0, 13).toDF("o_orderkey").write.mode("overwrite").parquet(
        str(src / "orders.parquet")
    )
    registry._VIEW_CACHE.clear()
    r2 = eng.run_incremental(job, "o_orderkey")
    assert r2.row_count == 2  # only 11 and 12 — no re-extraction of 10
    lake = spark.read.parquet(str(tmp_path / "lake" / "s" / "x" / "orders"))
    assert lake.count() == 13
    assert lake.select("o_orderkey").distinct().count() == 13


def test_incremental_failure_routes_to_failed_result(spark, tmp_path):
    """A failing incremental run returns FAILED with a FAILED ledger
    row, like ``run_job``, and leaves the stored watermark alone."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.engine import (
        Engine,
        EngineConfig,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.ledger import (
        Ledger,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
    )

    src = tmp_path / "src"
    spark.range(0, 5).toDF("o_orderkey").write.parquet(str(src / "orders.parquet"))
    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=str(src)),
        EngineConfig(target_root=str(tmp_path / "lake"), register_catalog=False),
        Ledger(tmp_path / "ledger.jsonl"),
    )

    def job(query):
        return ExtractionPlan.from_dict(
            {
                "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
                "SourceTable": "orders", "Query": query,
            }
        ).jobs[0]

    assert eng.run_incremental(job("SELECT * FROM orders"), "o_orderkey").status == "SUCCEEDED"
    bad = job("SELECT no_such_column FROM orders")
    r = eng.run_incremental(bad, "o_orderkey")
    assert r.status == "FAILED" and r.error and r.sink is None
    row = eng.ledger.get(bad.execution_hash_id, bad.source_table)
    assert row["GlueJobFinalStatus"] == "FAILED"
    assert row["ErrorMessage"]
    assert eng.last_watermark(bad) == "4"


def test_quality_checks_detect_violations(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.quality import (
        CheckSpec,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, "A", 5.0), (2, None, -1.0), (2, "B", 50.0), (3, "Z", 2.0)],
        "id BIGINT, cat STRING, val DOUBLE",
    )
    out = {
        (r.check, r.column): (r.n_violations, r.passed)
        for r in run_checks(
            df,
            CheckSpec(
                not_null=["cat"],
                unique=["id"],
                ranges={"val": (0, 10)},
                allowed={"cat": ["A", "B"]},
            ),
        ).collect()
    }
    assert out[("not_null", "cat")] == (1, False)
    assert out[("unique", "id")] == (1, False)
    assert out[("range", "val")] == (2, False)   # -1.0 and 50.0
    assert out[("allowed", "cat")] == (1, False)  # 'Z'


def test_approx_quantiles_error_bound(spark, sf_dir):
    """percentile_approx (GK sketch) must land within a small rank
    error of the exact percentile — the sketch analog of the HLL
    error-bound test."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.q
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", 0.9, 10000).alias("q"))
        .collect()
    }
    exact = {
        r.event_type: r.q
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.9)").alias("q"))
        .collect()
    }
    for et, q in exact.items():
        # accuracy 10000 -> rank error 1/10000; values are dense, allow 2%
        assert abs(approx[et] - q) <= max(0.5, abs(q) * 0.02)


def test_asof_join_tolerance_and_dedup(spark):
    """Backward as-of: inclusive <= match, deterministic max-tiebreak on
    duplicate (key, ts) right rows, tolerance nulls out stale matches,
    and left rows with no prior right row survive with nulls."""
    from datetime import datetime

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        asof_join_backward,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(5)), (3, 2, t(30)), (4, 3, t(10))],
        ["lid", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(100, 1, t(5)), (101, 1, t(5)), (102, 1, t(8)), (200, 2, t(1))],
        ["rid", "k", "ts"],
    )
    out = {
        r.lid: (r.rid, r._matched_ts)
        for r in asof_join_backward(
            left, right, on="k", right_cols=["rid"], right_tiebreak="rid"
        ).collect()
    }
    assert out[1][0] == 102          # latest at-or-before t=10
    assert out[2][0] == 101          # inclusive ts=5, max-rid tiebreak wins
    assert out[3][0] == 200
    assert out[4] == (None, None)    # key 3 has no right rows

    tol = {
        r.lid: r.rid
        for r in asof_join_backward(
            left, right, on="k", right_cols=["rid"], right_tiebreak="rid",
            tolerance_s=5,
        ).collect()
    }
    assert tol[1] == 102             # gap 2s within tolerance
    assert tol[3] is None            # gap 29s > 5s tolerance -> nulled


def test_asof_join_matches_bruteforce_random(spark):
    """Randomized differential check of the union-marker as-of join
    against a brute-force per-row scan (ties, gaps, missing keys)."""
    import random
    from datetime import datetime, timedelta

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        asof_join_backward,
    )

    rnd = random.Random(42)
    base = datetime(2024, 1, 1)
    lrows = [
        (i, rnd.randint(1, 5), base + timedelta(seconds=rnd.randint(0, 120)))
        for i in range(60)
    ]
    rrows = [
        (1000 + i, rnd.randint(1, 6), base + timedelta(seconds=rnd.randint(0, 120)))
        for i in range(80)
    ]
    left = spark.createDataFrame(lrows, ["lid", "k", "ts"])
    right = spark.createDataFrame(rrows, ["rid", "k", "ts"])
    got = {
        r.lid: r.rid
        for r in asof_join_backward(
            left, right, on="k", right_cols=["rid"], right_tiebreak="rid"
        ).collect()
    }
    for lid, k, lts in lrows:
        cand = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= lts]
        want = max(cand)[1] if cand else None
        assert got[lid] == want, (lid, got[lid], want)


def test_range_join_matches_bruteforce_random(spark):
    """Randomized differential check of the bucketed range join,
    including intervals spanning multiple buckets."""
    import random
    from datetime import datetime, timedelta

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        range_join_bucketed,
    )

    rnd = random.Random(7)
    base = datetime(2024, 1, 1)
    ivls = []
    for i in range(40):
        s = rnd.randint(0, 300)
        ivls.append(
            (i, rnd.randint(1, 4), base + timedelta(seconds=s),
             base + timedelta(seconds=s + rnd.randint(0, 150)))  # may span >1 60s bucket
        )
    pts = [
        (500 + i, rnd.randint(1, 4), base + timedelta(seconds=rnd.randint(0, 450)))
        for i in range(120)
    ]
    intervals = spark.createDataFrame(ivls, ["ivl_id", "k", "start_ts", "end_ts"])
    points = spark.createDataFrame(pts, ["pid", "k", "pts"])
    got = {
        (r.ivl_id, r.pid)
        for r in range_join_bucketed(
            points, intervals, "k", "pts", "start_ts", "end_ts", bucket_s=60
        ).collect()
    }
    want = {
        (ivl_id, pid)
        for ivl_id, ik, s, e in ivls
        for pid, pk, t in pts
        if pk == ik and s <= t <= e
    }
    assert got == want


def test_duplicate_clusters_transitive(spark):
    """CC labels: identical docs land in one cluster labeled by the
    smallest member id; unrelated docs don't appear at all."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        duplicate_clusters,
    )

    dup_a = "the quick brown fox jumps over the lazy dog again and again"
    dup_b = "completely different content about spark shuffles and joins"
    rows = [
        (1, dup_a),
        (2, dup_a),
        (3, dup_a),
        (10, dup_b),
        (11, dup_b),
        (99, "a unique snowflake document with no duplicate partner here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.cluster_id
        for r in duplicate_clusters(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_with_retry_backoff():
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.orchestrator import (
        with_retry,
    )

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert with_retry(flaky, attempts=3) == "ok"
    assert calls["n"] == 3

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        with_retry(lambda: (_ for _ in ()).throw(RuntimeError("always")), attempts=2)


def test_with_retry_k6_semantics(monkeypatch):
    """K6 partition-index retry parity (postprocess/lambda_function.py:
    198-221): linear backoff, AlreadyExists tolerated as success,
    exhaustion swallowed instead of raised."""
    import time as _time

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.orchestrator import (
        with_retry,
    )

    sleeps: list[float] = []
    monkeypatch.setattr(_time, "sleep", sleeps.append)

    # AlreadyExists -> treated as success (None), no retries burned
    calls = {"n": 0}

    def exists():
        calls["n"] += 1
        raise RuntimeError("AlreadyExistsException: index is there")

    assert (
        with_retry(exists, attempts=5, tolerate=("AlreadyExists",), on_exhausted="swallow")
        is None
    )
    assert calls["n"] == 1

    # linear backoff: sleeps are 1x, 2x, 3x, 4x the base
    assert (
        with_retry(
            lambda: (_ for _ in ()).throw(RuntimeError("boom")),
            attempts=5,
            backoff_s=10.0,
            backoff="linear",
            on_exhausted="swallow",
        )
        is None  # exhaustion swallowed — maintenance never fails a run
    )
    assert sleeps == [10.0, 20.0, 30.0, 40.0]


def test_post_write_maintenance_analyzes_table(spark, tmp_path):
    """post_write_maintenance computes stats on the registered table and
    never raises, even for a missing table (swallowed exhaustion)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        post_write_maintenance,
    )

    spark.range(100).selectExpr("id", "id % 3 AS g").write.mode("overwrite").saveAsTable(
        "t_pwm"
    )
    post_write_maintenance(spark, "t_pwm", columns=["g"])
    desc = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED t_pwm").collect()
    }
    assert "Statistics" in desc
    # non-existent table: exhaustion is swallowed, not raised
    post_write_maintenance(spark, "t_pwm_does_not_exist", attempts=2)
    spark.sql("DROP TABLE t_pwm")


def test_tsql_idiom_rewrites():
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
        to_spark_sql,
    )

    out = to_spark_sql(
        "SELECT TOP 5 [Row ID], ISNULL([Sales$], 0), GETDATE() "
        "FROM iqdemo.dba.tb_x WHERE note <> 'keep TOP 3 GETDATE() ISNULL(x,y)'"
    )
    assert out.endswith("LIMIT 5")
    assert "TOP 5" not in out.split("LIMIT")[0].replace("keep TOP", "")
    assert "coalesce(`Sales$`, 0)" in out
    assert "current_timestamp()" in out
    # string literal untouched
    assert "'keep TOP 3 GETDATE() ISNULL(x,y)'" in out

    out2 = to_spark_sql(
        "SELECT DATEADD(day, 5, d), DATEDIFF(month, a, b), LEN(s), "
        "CHARINDEX('x', s), CONVERT(VARCHAR(10), n), "
        "'LEN(s) CONVERT(INT, 1) stays' FROM t"
    )
    assert "(d + (5) * INTERVAL 1 day)" in out2
    assert "timestampdiff(month, a, b)" in out2
    assert "length(s)" in out2
    assert "locate('x', s)" in out2
    assert "CAST(n AS VARCHAR(10))" in out2
    assert "'LEN(s) CONVERT(INT, 1) stays'" in out2
    # nested-paren DATEADD args pass through (Spark-native dateadd form)
    out3 = to_spark_sql("SELECT DATEADD(day, 1, CAST(d AS DATE)) FROM t")
    assert "DATEADD(day, 1, CAST(d AS DATE))" in out3

    out4 = to_spark_sql(
        "SELECT NOW(*), DATEPART(year, d), STRING(a, '-', b), STRING(x) "
        "FROM t WHERE note <> 'NOW(*) DATEPART(year, d) stays'"
    )
    assert "current_timestamp(), date_part('year', d)" in out4
    assert "concat(a, '-', b)" in out4
    assert "STRING(x)" in out4  # single-arg form is already valid Spark
    assert "'NOW(*) DATEPART(year, d) stays'" in out4


def test_tsql_rewrite_executes(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
        to_spark_sql,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        register_parquet_views,
    )
    from tests.conftest import SF_SMALL

    register_parquet_views(spark, SF_SMALL, ["orders"])
    q = to_spark_sql(
        "SELECT TOP 7 [o_orderkey], ISNULL([o_orderpriority], 'NONE') AS prio "
        "FROM iqdemo.dba.orders ORDER BY [o_orderkey]"
    )
    rows = spark.sql(q).collect()
    assert len(rows) == 7
    assert rows[0].o_orderkey == 0


def test_multi_format_source_roundtrip(spark, tmp_path, sf_dir):
    """CSV/JSON/ORC sources resolve, read, and register for plan
    queries exactly like parquet (S1's non-JDBC side)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        SourceRegistry,
        load_table,
        read_source,
    )

    base = load_table(spark, sf_dir, "nation")
    base.write.mode("overwrite").option("header", "true").csv(str(tmp_path / "nation.csv"))
    base.write.mode("overwrite").json(str(tmp_path / "nation.json"))
    base.write.mode("overwrite").orc(str(tmp_path / "nation.orc"))

    n = base.count()
    for fmt in ("csv", "json", "orc"):
        df = read_source(spark, str(tmp_path / f"nation.{fmt}"), fmt)
        assert df.count() == n
        assert {c.lower() for c in df.columns} == {c.lower() for c in base.columns}

    reg = SourceRegistry(
        spark, parquet_root=str(tmp_path), table_formats={"nation": "csv"}
    )
    assert reg.resolve_path("nation").endswith("nation.csv")
    assert reg.read_table("nation").count() == n
    mapping = reg.register_views_for_query(["nation"])
    assert mapping == {"nation": "nation"}
    assert spark.sql("SELECT count(*) AS c FROM nation").collect()[0].c == n

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_source(spark, "/nope", "avro")


def test_incremental_rollup_refresh_matches_full(spark, tmp_path, sf_dir):
    """Two incremental refreshes (history + late delta) converge to the
    same hourly materialization as a one-shot rollup over all raw data
    — the continuous-aggregate merge invariant."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.rollup import (
        cascade_rollup,
        refresh_rollup_incremental,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events").limit(600).cache()
    # TIMESTAMP_NTZ can't cast to DOUBLE; split on epoch micros instead
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.select(F.percentile(epoch, F.lit(0.5)).alias("c")).collect()[0].c
    half1 = ev.filter(epoch <= cut)
    half2 = ev.filter(epoch > cut)
    path = str(tmp_path / "hourly")

    refresh_rollup_incremental(spark, path, half1, "ts", ["event_type"], "value")
    refresh_rollup_incremental(spark, path, half2, "ts", ["event_type"], "value")

    got = {
        (str(r.bucket), r.event_type): (r.n_events, r.total_value, r.min_value, r.max_value)
        for r in spark.read.parquet(path).collect()
    }
    want = {
        (str(r.bucket), r.event_type): (r.n_events, r.total_value, r.min_value, r.max_value)
        for r in cascade_rollup(ev, "ts", ["event_type"], "value", ("hour",))["hour"].collect()
    }
    assert set(got) == set(want)
    for k, (n, tot, mn, mx) in want.items():
        gn, gtot, gmn, gmx = got[k]
        assert gn == n and gmn == mn and gmx == mx
        assert abs(gtot - tot) < 1e-6  # double sum order differs across paths
    ev.unpersist()


def test_quantize_int8_bounds_and_reconstruction(spark, sf_dir):
    """int8 quantization: codes within [-127, 127], and dequantized
    values within half a quantization step of the originals."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        quantize_embeddings_int8,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    q = quantize_embeddings_int8(emb, "vec_id", "embedding")
    rows = {r.vec_id: r for r in q.collect()}
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assert set(rows) <= set(orig)
    for vid, r in rows.items():
        codes = [int(c) for c in r.q.split(",")]
        assert len(codes) == len(orig[vid])
        assert all(-127 <= c <= 127 for c in codes)
        # scale was floor-truncated at 1e-6 for output; reconstruction
        # uses it, so allow the step/2 plus the truncation slack
        step = r.scale / 127
        for c, x in zip(codes, orig[vid]):
            assert abs(c * step - x) <= step / 2 + 1e-6 * abs(x) + 1e-9


def test_convert_style_code_passes_through_unchanged():
    """3-arg CONVERT (T-SQL style-code form) must NOT be mangled into
    an invalid CAST — it passes through for the engine to reject with
    the original text visible."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
        to_spark_sql,
    )

    out = to_spark_sql("SELECT CONVERT(VARCHAR, d, 112) FROM t")
    assert "CONVERT(VARCHAR, d, 112)" in out
    # the 2-arg form still rewrites
    assert "CAST(d AS VARCHAR)" in to_spark_sql("SELECT CONVERT(VARCHAR, d) FROM t")


def test_three_part_comma_join_rewrites_with_table_map_only():
    """Standalone to_spark_sql callers passing only table_map keep
    comma-join support: prefixes are derived from three-part keys."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
        to_spark_sql,
    )

    out = to_spark_sql(
        "SELECT a.x, o.address.city FROM iqdemo.dba.t1, iqdemo.dba.t2 "
        "WHERE t1.id = t2.id",
        table_map={"iqdemo.dba.t1": "t1", "iqdemo.dba.t2": "t2"},
    )
    assert "FROM t1, t2" in out
    # struct-field access with an unknown prefix stays untouched
    assert "o.address.city" in out


@pytest.mark.slow
def test_duplicate_clusters_raises_on_nonconvergence(spark, monkeypatch):
    """A duplicate chain deeper than the iteration budget must raise,
    never silently split clusters (ADVICE r2)."""
    import pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators import (
        dedup,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], ["id_a", "id_b"]
    )
    monkeypatch.setattr(dedup, "minhash_lsh_pairs", lambda *a, **k: chain)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(
            spark.createDataFrame([(0, "x")], ["doc_id", "text"]),
            "doc_id",
            "text",
            max_iterations=1,
        )
    # an adequate budget converges to one chain-wide cluster
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(
            spark.createDataFrame([(0, "x")], ["doc_id", "text"]),
            "doc_id",
            "text",
            max_iterations=10,
        ).collect()
    }
    assert out == {i: 1 for i in range(1, 10)}


def test_rollup_refresh_propagates_read_failure(spark, tmp_path):
    """A corrupt/unreadable existing materialization must abort the
    refresh (ADVICE r2) — only a genuinely missing path means 'first
    refresh'. A silent fallback would overwrite dirty-day partitions
    with delta-only aggregates."""
    import pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.rollup import (
        refresh_rollup_incremental,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    path = tmp_path / "hourly"
    path.mkdir()  # exists but holds no parquet → NOT path-not-found
    (path / "part-00000.parquet").write_text("not a parquet file")
    # corrupt footer surfaces as FAILED_READ_FILE at schema inference
    with pytest.raises(Exception, match="FAILED_READ_FILE|CANNOT_READ_FILE_FOOTER"):
        refresh_rollup_incremental(spark, str(path), ev, "ts", ["event_type"], "value")
    # the corrupt materialization was NOT overwritten
    assert (path / "part-00000.parquet").read_text() == "not a parquet file"


def test_compact_partitions_recovers_from_crash_window(spark, tmp_path):
    """Death between the two swap renames leaves the dataset under the
    deterministic `.old` name; the next call must rename it back and
    proceed (ADVICE r2)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        compact_partitions,
    )

    path = tmp_path / "t"
    spark.range(0, 300).selectExpr("id", "CAST(id % 3 AS STRING) AS part").repartition(
        4
    ).write.partitionBy("part").parquet(str(path))

    # simulate crash after `p.rename(old)` and before `tmp.rename(p)`
    old = path.parent / f".{path.name}.old"
    path.rename(old)
    assert not path.exists()
    compact_partitions(spark, str(path), ["part"], target_files_per_partition=1)
    assert spark.read.parquet(str(path)).count() == 300
    assert not old.exists()

    # stale `.old` left behind after a SUCCESSFUL swap is cleaned up
    old.mkdir()
    (old / "junk").write_text("stale")
    compact_partitions(spark, str(path), ["part"], target_files_per_partition=1)
    assert spark.read.parquet(str(path)).count() == 300
    assert not old.exists()


@pytest.mark.slow
def test_ivf_trained_codebook_recall(spark, sf_dir):
    """kmeans_centroids is a genuine index build: recall vs the exact
    brute-force ground truth rises with nprobe, and probing ALL k
    lists recovers the exact result (IVF with full probe = exhaustive
    search)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    df = load_table(spark, sf_dir, "embeddings").cache()
    qids = list(range(8))
    truth = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(df, "vec_id", "embedding", qids, 5).collect()
    }
    cb = kmeans_centroids(df, k=4, iters=3).cache()
    # codebook is deterministic: training twice gives identical centroids
    again = kmeans_centroids(df, k=4, iters=3)
    assert sorted(map(tuple, cb.collect())) == sorted(map(tuple, again.collect()))

    def recall(nprobe: int) -> float:
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(
                df, "vec_id", "embedding",
                query_ids=qids, k=5, nprobe=nprobe, codebook=cb,
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4
    assert r4 == 1.0  # full probe == exhaustive search
    assert r1 > 0.0
    df.unpersist()
    cb.unpersist()


@pytest.mark.slow
def test_lsh_multiprobe_recall_uplift(spark, sf_dir):
    """Query-directed multiprobe: probing Hamming-1 flips of the
    least-confident sign bits strictly widens the candidate set, so
    top-k recall vs exact ground truth is >= the single-bucket LSH
    recall, and grows with nprobe_bits."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucket_topk,
        lsh_multiprobe_topk,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    df = load_table(spark, sf_dir, "embeddings").cache()
    qids = list(range(8))
    truth = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(df, "vec_id", "embedding", qids, 5).collect()
    }

    def recall(result) -> float:
        got = {(r.query_id, r.vec_id) for r in result.collect()}
        return len(got & truth) / len(truth)

    r_single = recall(lsh_bucket_topk(df, "vec_id", "embedding", qids, 5, 4, 64))
    r_mp1 = recall(
        lsh_multiprobe_topk(df, "vec_id", "embedding", qids, 5, 4, 64, nprobe_bits=1)
    )
    r_mp4 = recall(
        lsh_multiprobe_topk(df, "vec_id", "embedding", qids, 5, 4, 64, nprobe_bits=4)
    )
    assert r_single <= r_mp1 <= r_mp4
    assert r_mp4 > r_single  # probing must actually add candidates
    df.unpersist()


def test_aqe_skew_join_and_salting_evidence(spark):
    """Skew tooling evidence (VERDICT r2 item 8): AQE splits a skewed
    sort-merge join at runtime (plan shows skew=true), and for the
    single-hot-KEY case AQE can't fix (one key > one split),
    salted_join provably bounds the per-task key-group size."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        salted_join,
    )

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        # force SMJ + make the skew detector sensitive enough for test data
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

        # 75% of the big side lands on key 0
        big = spark.range(0, 200_000).select(
            F.when(F.col("id") < 150_000, 0)
            .otherwise(F.pmod("id", F.lit(1_000)))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
        )

        joined = big.join(small, "k")
        n_plain = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # AQE split the skewed partition

        # salting: the hot key fans out across `salt` sub-groups whose
        # max size is ~1/salt of the hot key (the bound AQE cannot give
        # for intra-key skew in the general case)
        salt = 16
        salted = salted_join(big, small, "k", salt=salt)
        assert salted.count() == n_plain
        hot = 150_000
        max_group = (
            big.withColumn("_salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt)))
            .groupBy("k", "_salt")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]
            .m
        )
        assert max_group < hot / salt * 1.5  # hash spread within 50% of ideal
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------
# CDC / merge-on-read (operators/cdc.py)
# ---------------------------------------------------------------------


def test_latest_snapshot_picks_highest_version_deterministically(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        latest_snapshot,
    )

    rows = [
        (1, 10, "a"),
        (1, 30, "c"),
        (1, 20, "b"),
        (2, 5, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "seq", "val"])
    out = {
        r["k"]: (r["seq"], r["val"])
        for r in latest_snapshot(df, ["k"], ["seq"]).collect()
    }
    assert out == {1: (30, "c"), 2: (5, "x")}


def test_apply_change_stream_insert_update_delete_semantics(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        apply_change_stream,
    )

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], ["k", "val"]
    )
    # k=2 updated twice (seq order decides), k=3 deleted, k=4 inserted,
    # k=5 delete of a key that never existed (must not resurrect),
    # k=1 untouched base row passes through
    changes = spark.createDataFrame(
        [
            (2, "two-v1", 1, "U"),
            (2, "two-v2", 2, "U"),
            (3, None, 1, "D"),
            (4, "four", 1, "I"),
            (5, None, 1, "D"),
        ],
        ["k", "val", "seq", "op"],
    )
    out = {
        r["k"]: r["val"]
        for r in apply_change_stream(
            base, changes, ["k"], seq_col="seq", op_col="op"
        ).collect()
    }
    assert out == {1: "one", 2: "two-v2", 4: "four"}


def test_apply_change_stream_delete_then_reinsert(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        apply_change_stream,
    )

    base = spark.createDataFrame([(1, "old")], ["k", "val"])
    changes = spark.createDataFrame(
        [(1, None, 1, "D"), (1, "reborn", 2, "I")], ["k", "val", "seq", "op"]
    )
    out = apply_change_stream(
        base, changes, ["k"], seq_col="seq", op_col="op"
    ).collect()
    assert [(r["k"], r["val"]) for r in out] == [(1, "reborn")]


def test_scd2_apply_versions_changed_keys_only(spark):
    from datetime import datetime

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        scd2_apply,
    )

    t0, t1, t2 = datetime(2020, 1, 1), datetime(2021, 1, 1), datetime(2022, 1, 1)
    current = spark.createDataFrame(
        [
            # k=1: one closed + one open version already in history
            (1, "alpha", 100.0, t0, t1, False),
            (1, "alpha", 150.0, t1, None, True),
            (2, "beta", 200.0, t0, None, True),
            (3, "gamma", 300.0, t0, None, True),
        ],
        ["k", "name", "bal", "valid_from", "valid_to", "is_current"],
    )
    updates = spark.createDataFrame(
        [
            (1, "alpha", 175.0),   # changed -> close + new version
            (2, "beta", 200.0),    # identical -> no-op
            (9, "new", 900.0),     # brand-new key -> insert
        ],
        ["k", "name", "bal"],
    )
    out = scd2_apply(
        current, updates, keys=["k"], tracked=["bal"], effective=t2
    )
    rows = sorted(
        (
            (r["k"], r["bal"], r["valid_from"], r["valid_to"], r["is_current"])
            for r in out.collect()
        ),
    )
    assert rows == [
        (1, 100.0, t0, t1, False),      # untouched closed history
        (1, 150.0, t1, t2, False),      # closed out at effective ts
        (1, 175.0, t2, None, True),     # new open version
        (2, 200.0, t0, None, True),     # no-op update: unchanged
        (3, 300.0, t0, None, True),     # not in update batch: unchanged
        (9, 900.0, t2, None, True),     # brand-new key
    ]


def test_scd2_apply_null_safe_tracked_compare(spark):
    from datetime import datetime

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        scd2_apply,
    )

    t0, t2 = datetime(2020, 1, 1), datetime(2022, 1, 1)
    current = spark.createDataFrame(
        [(1, None, t0, None, True), (2, 5.0, t0, None, True)],
        "k int, bal double, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, None), (2, None)], "k int, bal double"
    )
    out = sorted(
        (
            (r["k"], r["bal"], r["is_current"])
            for r in scd2_apply(
                current, updates, keys=["k"], tracked=["bal"], effective=t2
            ).collect()
        ),
        key=lambda t: (t[0], t[1] is not None, t[1] or 0.0),
    )
    # null==null is a no-op; 5.0 -> null is a real change
    assert out == [(1, None, True), (2, None, True), (2, 5.0, False)]


# ---------------------------------------------------------------------
# Chunking / stratified sampling (operators/chunking.py)
# ---------------------------------------------------------------------


def test_chunk_documents_boundary_math(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.chunking import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),   # 10 chars: chunks at 0, 4, 8 (stride 4)
            (2, "abc"),          # shorter than chunk -> exactly 1 chunk
            (3, "abcdef"),       # == chunk_chars -> exactly 1 chunk
            (4, ""),             # empty -> 1 empty chunk
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_chars=6, overlap=2)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_chars"])
        for r in out.collect()
    }
    assert got == {
        (1, 0): ("abcdef", 6),
        (1, 1): ("efghij", 6),   # overlap of 2 with previous chunk
        (2, 0): ("abc", 3),
        (3, 0): ("abcdef", 6),
        (4, 0): ("", 0),
    }
    with pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", chunk_chars=4, overlap=4)


def test_stratified_sample_rates_and_determinism(spark):
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.chunking import (
        stratified_sample,
    )

    rows = [(i, "keep_all" if i % 3 == 0 else ("drop_all" if i % 3 == 1 else "other"))
            for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "stratum"])
    out = stratified_sample(
        df, "stratum", "id", rates={"keep_all": 1.0, "drop_all": 0.0},
        default_rate=0.5,
    )
    pdf = out.toPandas()
    by = pdf.groupby("stratum")["id"].count().to_dict()
    assert by.get("keep_all") == 100          # rate 1.0 keeps every row
    assert "drop_all" not in by               # rate 0.0 drops the stratum
    assert 20 <= by.get("other", 0) <= 80     # ~50% of 100, hash-spread
    # deterministic: a second evaluation yields the identical id set
    again = stratified_sample(
        df, "stratum", "id", rates={"keep_all": 1.0, "drop_all": 0.0},
        default_rate=0.5,
    ).toPandas()
    assert sorted(pdf["id"]) == sorted(again["id"])


def test_image_ahash_collides_on_duplicates_only(spark):
    import numpy as np

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        ASSET_SCHEMA,
        image_ahash,
        png_encode_gray,
        synthetic_image_pixels,
    )

    px = synthetic_image_pixels(3)
    noisy = px.copy()
    noisy[0, 0] = (int(noisy[0, 0]) + 1) % 256  # 1-pixel change
    inverted = (255 - px).astype(np.uint8)      # structurally different
    rows = [
        (0, "image", png_encode_gray(px), 0, "a"),
        (1, "image", png_encode_gray(px), 0, "b"),        # exact dup
        (2, "image", png_encode_gray(noisy), 0, "c"),     # near dup
        (3, "image", png_encode_gray(inverted), 0, "d"),
        (4, "audio", b"not a png", 0, "e"),               # skipped
    ]
    out = {
        r["asset_id"]: r["ahash"]
        for r in image_ahash(
            spark.createDataFrame(rows, ASSET_SCHEMA)
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    assert out[0] == out[1]                    # exact dup collides
    assert out[0] == out[2]                    # 1-pixel noise collides
    hamming = bin(int(out[0], 16) ^ int(out[3], 16)).count("1")
    assert hamming > 16                        # inversion is far away


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz", "date"])
def test_temporal_operators_survive_ts_type_drift(spark, ts_type):
    """asof_join_backward / range_join_bucketed / sessionize arithmetic
    must behave identically for TIMESTAMP, TIMESTAMP_NTZ (what Spark 4
    infers from naive parquet), and DATE event-time columns — the
    round-3 regression was exactly this drift.  Differential check
    against a brute-force scan at the granularity of the cast type."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        asof_join_backward,
        range_join_bucketed,
    )

    rnd = random.Random(13)
    base = datetime(2024, 1, 1)
    step = timedelta(days=1) if ts_type == "date" else timedelta(seconds=30)
    lrows = [(i, rnd.randint(1, 4), base + step * rnd.randint(0, 40)) for i in range(50)]
    rrows = [(1000 + i, rnd.randint(1, 5), base + step * rnd.randint(0, 40)) for i in range(60)]

    def _frame(rows, cols, ts_cols):
        df = spark.createDataFrame(rows, cols)
        for c in ts_cols:
            df = df.withColumn(c, F.col(c).cast(ts_type))
        return df

    left = _frame(lrows, ["lid", "k", "ts"], ["ts"])
    right = _frame(rrows, ["rid", "k", "ts"], ["ts"])
    assert dict(left.dtypes)["ts"] == ts_type

    got = {
        r.lid: r.rid
        for r in asof_join_backward(
            left, right, on="k", right_cols=["rid"], right_tiebreak="rid"
        ).collect()
    }
    for lid, k, lts in lrows:
        cand = [(rts, rid) for rid, rk, rts in rrows if rk == k and rts <= lts]
        want = max(cand)[1] if cand else None
        assert got[lid] == want, (ts_type, lid, got[lid], want)

    ivls = []
    for i in range(30):
        s = rnd.randint(0, 40)
        ivls.append((i, rnd.randint(1, 3), base + step * s, base + step * (s + rnd.randint(0, 6))))
    pts = [(500 + i, rnd.randint(1, 3), base + step * rnd.randint(0, 50)) for i in range(80)]
    intervals = _frame(ivls, ["ivl_id", "k", "start_ts", "end_ts"], ["start_ts", "end_ts"])
    points = _frame(pts, ["pid", "k", "pts"], ["pts"])
    bucket_s = int(step.total_seconds()) * 3
    got_rj = {
        (r.ivl_id, r.pid)
        for r in range_join_bucketed(
            points, intervals, "k", "pts", "start_ts", "end_ts", bucket_s=bucket_s
        ).collect()
    }
    want_rj = {
        (ivl_id, pid)
        for ivl_id, ik, s, e in ivls
        for pid, pk, t in pts
        if pk == ik and s <= t <= e
    }
    assert got_rj == want_rj, ts_type


@pytest.mark.parametrize("threshold", [0.5, 0.7, 0.9])
def test_ngram_jaccard_prefix_filter_matches_bruteforce(spark, threshold):
    """Randomized differential check of the prefix-filter + positional-
    filter + array-verify Jaccard pipeline against a brute-force python
    all-pairs computation (df cap applied in both, as the spec does).
    Guards the candidate-pruning math: a pruned TRUE pair would show up
    here as a missing row."""
    import random

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rnd = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        if i % 5 == 0 and i > 0:
            # near-dup of a previous doc: copy + small mutation
            base_tokens = docs[rnd.randrange(len(docs))][1].split()
            j = rnd.randrange(len(base_tokens))
            base_tokens[j] = rnd.choice(vocab)
            docs.append((i, " ".join(base_tokens)))
        else:
            docs.append((i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(8, 20)))))

    shingle_n, cap = 3, 8

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}

    raw = {i: shingles(t) for i, t in docs}
    df_count = {}
    for s in (sh for shs in raw.values() for sh in shs):
        df_count[s] = df_count.get(s, 0) + 1
    capped = {i: {s for s in shs if df_count[s] <= cap} for i, shs in raw.items()}
    want = set()
    for a in raw:
        for b in raw:
            if a < b and capped[a] and capped[b]:
                common = len(capped[a] & capped[b])
                union = len(capped[a] | capped[b])
                import math
                j = math.floor(common / union * 10000) / 10000 if union else 0.0
                if j >= threshold:
                    want.add((a, b, common, len(capped[a]), len(capped[b])))

    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b, r.common, r.n_a, r.n_b)
        for r in ngram_jaccard_pairs(
            sdf, "doc_id", "text", shingle_n=shingle_n,
            threshold=threshold, max_shingle_df=cap,
        ).collect()
    }
    assert got == want, (threshold, got ^ want)


def test_dialect_literals_never_rewritten_property():
    """Property check (hypothesis): whatever appears inside single-quoted
    string literals — including idiom lookalikes like GETDATE(),
    STRING(a,b), TOP 5 — survives to_spark_sql byte-for-byte, and the
    rewritten query never leaks a literal boundary."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.dialect import (
        to_spark_sql,
    )

    idiom = st.sampled_from(
        ["GETDATE()", "ISNULL(x,y)", "STRING(a, '-', b)".replace("'", "''"),
         "TOP 5", "DATEPART(year, d)", "NOW(*)", "LEN(s)", "CONVERT(INT, 1)"]
    )
    word = st.text(alphabet="abcxyz_ ", min_size=0, max_size=8)
    literal_body = st.lists(st.one_of(idiom, word), min_size=0, max_size=3).map(
        " ".join
    )

    @given(lits=st.lists(literal_body, min_size=1, max_size=3))
    @settings(max_examples=100, deadline=None)
    def check(lits):
        cols = ", ".join(f"'{b}' AS c{i}" for i, b in enumerate(lits))
        sql = f"SELECT {cols}, GETDATE() FROM t"
        out = to_spark_sql(sql)
        for b in lits:
            assert f"'{b}'" in out, (b, out)
        assert out.count("'") == sql.count("'")
        assert "current_timestamp()" in out

    check()


def test_normalize_text_nfc_unicode_semantics(spark):
    """The oracle corpus is ASCII, so NFC is identity there; this test
    proves the real semantics: combining marks compose, ligatures are
    NOT decomposed (NFC, not NFKC), control chars drop, whitespace
    collapses, None passes through."""
    import unicodedata

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cleaning import (
        normalize_text_nfc,
    )

    decomposed = "café"            # e + combining acute
    rows = [
        (1, decomposed),
        (2, "ﬁsh"),                      # fi ligature — NFC keeps it
        (3, "a\x00b\x1fc"),              # control chars stripped
        (4, "  too   many\tspaces \n"),  # ws collapse + trim
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.text for r in normalize_text_nfc(df, ["text"]).collect()}
    assert got[1] == unicodedata.normalize("NFC", decomposed) == "café"
    assert got[2] == "ﬁsh"
    assert got[3] == "abc"
    assert got[4] == "too many spaces"
    assert got[5] is None


@pytest.mark.slow
def test_connected_components_deep_chain_and_random(spark):
    """Pointer jumping must close a 300-deep path graph well inside the
    20-round budget (plain propagation would need 300 rounds), and
    random graphs must match a union-find reference exactly."""
    import random

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        connected_components,
    )

    # 300-node path: 0-1-2-...-299 => one component labeled 0
    chain = [(i, i + 1) for i in range(299)]
    cdf = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r.node: r.label for r in connected_components(cdf).collect()}
    assert len(got) == 300 and set(got.values()) == {0}

    # random graph vs union-find
    rnd = random.Random(5)
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for a, b in edges:
        for n in (a, b):
            want[n] = find(n)
    # canonicalize union-find roots to the true min of each component
    comp_min = {}
    for n, r in want.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[r] for n, r in want.items()}

    gdf = spark.createDataFrame(edges, ["id_a", "id_b"])
    got2 = {r.node: r.label for r in connected_components(gdf).collect()}
    assert got2 == want


def test_incremental_minhash_equals_full_minus_base_pairs(spark, sf_dir):
    """incremental_minhash_pairs(base, batch) must return exactly the
    pairs of the full-corpus operator that touch the batch — same ids,
    same verified jaccard — and must label pair_kind by membership."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.chunking import (
        hash_bucket_256,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket_256(F.col("doc_id"))
    base = docs.filter(bucket >= 64)
    batch = docs.filter(bucket < 64)
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    assert batch_ids, "batch split must be non-empty"

    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    want = {
        pair: j
        for pair, j in full.items()
        if pair[0] in batch_ids or pair[1] in batch_ids
    }
    got_rows = incremental_minhash_pairs(
        base, batch, "doc_id", "text"
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in got_rows}
    assert got == want
    for r in got_rows:
        both = r.id_a in batch_ids and r.id_b in batch_ids
        assert r.pair_kind == ("batch-batch" if both else "base-batch")


# ---- round-4 stats/curation entries (query_catalog_stats.py) ---------


def test_random_projection_norm_concentration(spark):
    """The sqrt(3/d_out)-scaled JL projection must preserve norms in
    expectation: mean norm_ratio near 1, individual vectors within the
    loose concentration band for d_out=16."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_stats import (
        embedding_random_projection,
    )

    rows = embedding_random_projection(spark, "/root/testdata/sf0.001").collect()
    ratios = [r["norm_ratio"] for r in rows]
    assert rows, "projection produced no rows"
    mean = sum(ratios) / len(ratios)
    assert 0.85 <= mean <= 1.15, f"mean norm_ratio {mean} not ~1"
    assert all(0.3 <= r <= 2.0 for r in ratios), (min(ratios), max(ratios))


def test_edit_distance_blocking_complete(spark, duck):
    """Blocking guarantee: every same-lang pair with prefix edit
    distance <= threshold AND full-length difference <= threshold is
    found (bucket width > threshold => such pairs are always within
    one bucket of each other)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_stats import (
        ED_BUCKET,
        ED_PREFIX,
        ED_THRESH,
        dedup_edit_distance_pairs,
    )

    assert ED_BUCKET > ED_THRESH  # the inclusion proof's precondition
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup_edit_distance_pairs(spark, "/root/testdata/sf0.001").collect()
    }
    brute = duck.execute(
        f"""
        WITH d AS (SELECT doc_id, lang, n_chars,
          substring(text, 1, {ED_PREFIX}) AS prefix FROM documents)
        SELECT a.doc_id, c.doc_id FROM d a JOIN d c
          ON a.lang = c.lang AND a.doc_id < c.doc_id
          AND abs(a.n_chars - c.n_chars) <= {ED_THRESH}
        WHERE levenshtein(a.prefix, c.prefix) <= {ED_THRESH}
        """
    ).fetchall()
    missing = [p for p in brute if tuple(p) not in got]
    assert not missing, f"blocking dropped in-threshold pairs: {missing[:5]}"


def test_pagerank_mass_conservation(spark):
    """PageRank sanity: ranks positive; total mass 1 minus whatever
    leaks through dangling nations (nations with no outbound trade),
    never more than 1."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_stats import (
        trade_pagerank_nations,
    )

    rows = trade_pagerank_nations(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 25
    total = sum(r["pr"] for r in rows)
    assert all(r["pr"] > 0 for r in rows)
    assert 0.5 <= total <= 1.000001, total


# ---- round-4 third pass: mining/compression differential tests ------


def test_ewma_matches_pandas_reference(spark):
    """events_user_ewma vs pandas ewm(adjust=False) — the same
    recurrence computed by an independent implementation (not the
    DuckDB oracle's fold)."""
    import pandas as pd

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog import (
        _CATALOG,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_mining import (
        EWMA_ALPHA,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in _CATALOG["events_user_ewma"].fn(spark, sf).collect()
    }
    ev = (
        load_table(spark, sf, "events")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    import math

    for uid, grp in ev.groupby("user_id"):
        ref = grp["value"].ewm(alpha=EWMA_ALPHA, adjust=False).mean().iloc[-1]
        n, ewma = got[uid]
        assert n == len(grp)
        assert ewma == math.floor(ref * 10000) / 10000, (uid, ewma, ref)


def test_pq_codes_match_numpy(spark):
    """embedding_pq_codes vs a numpy argmin over the same codebook."""
    import numpy as np

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog import (
        _CATALOG,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.functions.pq import (
        PQ_CENTROIDS,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        pq_codebook,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["vec_id"]: [int(c) for c in r["codes"].split(",")]
        for r in _CATALOG["embedding_pq_codes"].fn(spark, sf).collect()
    }
    cb = np.array(pq_codebook(PQ_SUBSPACES, PQ_CENTROIDS, PQ_SUBDIM))
    embs = load_table(spark, sf, "embeddings").collect()
    for row in embs:
        v = np.array(row["embedding"], dtype=np.float64)
        for s in range(PQ_SUBSPACES):
            sub = v[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            d = ((cb[s] - sub) ** 2).sum(axis=1)
            # 1-based first-min index, matching array_position semantics
            assert got[row["vec_id"]][s] == int(np.argmin(d)) + 1, (
                row["vec_id"],
                s,
            )


def test_cms_estimate_dominates_exact(spark):
    """Count-Min invariants: est >= exact for every key (structural,
    not probabilistic) and the (e/w)*N overshoot bound booleans hold."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog import (
        _CATALOG,
    )

    rows = _CATALOG["sketch_count_min_users"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["cms_est"] >= r["exact_n"], r
        assert r["lower_ok"] and r["upper_ok"], r


def test_triangle_counts_sum_divisible_by_three(spark):
    """Each triangle contributes exactly one count to each of its
    three members — the per-node total must be 3x the triangle count."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog import (
        _CATALOG,
    )

    rows = _CATALOG["trade_triangle_count"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r["n_triangles"] for r in rows)
    assert total > 0 and total % 3 == 0, total


# ---- schema evolution (drift-tolerant union / append alignment) -----


def test_union_with_evolution_widens_and_backfills(spark):
    from pyspark.sql.types import DoubleType, LongType, TimestampType

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.schema_evolution import (
        SchemaEvolutionError,
        align_to_schema,
        merge_schemas,
        union_with_evolution,
        widen_type,
    )

    old = spark.createDataFrame(
        [(1, 10, 1.5)], "id int, qty int, price float"
    )
    new = spark.createDataFrame(
        [(2, 20_000_000_000, 2.5, "web")],
        "id long, qty long, price double, channel string",
    )
    merged = merge_schemas([old.schema, new.schema])
    assert [f.name for f in merged.fields] == ["id", "qty", "price", "channel"]
    assert merged["id"].dataType == LongType()
    assert merged["qty"].dataType == LongType()
    assert merged["price"].dataType == DoubleType()
    assert merged["channel"].nullable  # missing from `old`

    rows = {r["id"]: r for r in union_with_evolution([old, new]).collect()}
    assert rows[1]["channel"] is None and rows[1]["qty"] == 10
    assert rows[2]["qty"] == 20_000_000_000

    # narrowing must refuse, not truncate
    import pytest as _pytest

    with _pytest.raises(SchemaEvolutionError):
        align_to_schema(new, old.schema)
    # string vs long is irreconcilable
    with _pytest.raises(SchemaEvolutionError):
        union_with_evolution(
            [old, spark.createDataFrame([("x",)], "id string")]
        )
    # temporal lattice: date widens into ts; ntz/ts reconcile to ts
    from pyspark.sql.types import DateType, TimestampNTZType

    assert widen_type(DateType(), TimestampNTZType()) == TimestampNTZType()
    assert widen_type(TimestampNTZType(), TimestampType()) == TimestampType()


def test_union_with_evolution_matches_mergeschema_read(spark, tmp_path):
    """Writer-side evolution == Spark's reader-side mergeSchema."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.schema_evolution import (
        union_with_evolution,
    )

    a = spark.createDataFrame([(1, "a")], "id long, name string")
    b = spark.createDataFrame([(2, 3.5)], "id long, score double")
    a.write.parquet(str(tmp_path / "t" / "p=1"))
    b.write.parquet(str(tmp_path / "t" / "p=2"))
    via_reader = (
        spark.read.option("mergeSchema", True)
        .parquet(str(tmp_path / "t"))
        .drop("p")
    )
    via_writer = union_with_evolution([a, b])
    assert set(via_reader.columns) == set(via_writer.columns)
    canon = lambda df: sorted(
        tuple(str(r[c]) for c in sorted(df.columns)) for r in df.collect()
    )
    assert canon(via_reader) == canon(via_writer)


def test_sink_append_evolves_schema(spark, tmp_path):
    """Drift-tolerant append: a later batch with a widened type and a
    new column merges into the dataset; the catalog table exposes the
    merged schema with nulls for old rows' missing column."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    d1 = spark.createDataFrame([(1, 10, "2024")], "id int, qty int, year string")
    write_partitioned_parquet(
        d1, str(tmp_path), "lake/ev", ["year"],
        target_database="db_evolve", table_name="ev", mode="append",
        evolve_schema=True,
    )
    d2 = spark.createDataFrame(
        [(2, 20_000_000_000, "web", "2025")],
        "id long, qty long, channel string, year string",
    )
    write_partitioned_parquet(
        d2, str(tmp_path), "lake/ev", ["year"],
        target_database="db_evolve", table_name="ev", mode="append",
        evolve_schema=True,
    )
    rows = {r["id"]: r for r in spark.table("db_evolve.ev").collect()}
    assert rows[1]["channel"] is None and rows[1]["qty"] == 10
    assert rows[2]["qty"] == 20_000_000_000
    assert dict(spark.table("db_evolve.ev").dtypes)["qty"] == "bigint"
    # incompatible drift refuses instead of corrupting the dataset
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.schema_evolution import (
        SchemaEvolutionError,
    )
    import pytest as _pytest

    bad = spark.createDataFrame([("x", "2026")], "qty string, year string")
    with _pytest.raises(SchemaEvolutionError):
        write_partitioned_parquet(
            bad, str(tmp_path), "lake/ev", ["year"],
            target_database="db_evolve", table_name="ev", mode="append",
            evolve_schema=True,
        )
    spark.sql("DROP TABLE db_evolve.ev")


def test_sink_same_schema_append_keeps_catalog_table(spark, tmp_path):
    """A same-schema append registers only its new partitions: a table
    property set after the first write survives (no DROP/CREATE), and
    the appended partition is queryable."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    ddl = "OrderKey int, amt decimal(12,2), d date, tags array<string>, year string"

    def append(rows):
        write_partitioned_parquet(
            spark.sql(f"SELECT * FROM VALUES {rows} AS t(OrderKey, amt, d, tags, year)").to(
                spark.createDataFrame([], ddl).schema
            ),
            str(tmp_path), "lake/keep", ["year"],
            target_database="db_keep", table_name="keep", mode="append",
        )

    append("(1, 1.25, DATE'2024-01-02', array('a'), '2024')")
    spark.sql("ALTER TABLE db_keep.keep SET TBLPROPERTIES ('probe' = 'kept')")
    append("(2, 2.50, DATE'2025-03-04', array('b', 'c'), '2025')")
    props = {r.key: r.value for r in spark.sql("SHOW TBLPROPERTIES db_keep.keep").collect()}
    assert props.get("probe") == "kept"
    got = spark.sql("SELECT OrderKey, amt FROM db_keep.keep WHERE year = '2025'").collect()
    assert [(r.OrderKey, str(r.amt)) for r in got] == [(2, "2.50")]
    assert spark.table("db_keep.keep").count() == 2
    spark.sql("DROP TABLE db_keep.keep")


def test_sink_unpartitioned_appends_visible_in_same_session(spark, tmp_path):
    """An append to an unpartitioned catalog table registers nothing new,
    so a same-session read between appends caches the relation's file
    listing; the sink must invalidate it, or later reads miss the
    newer files.  The drift probe itself must not resolve (and cache)
    the relation either."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    counts = []
    for i in range(3):
        write_partitioned_parquet(
            spark.sql(f"SELECT {i} AS OrderKey, 'x{i}' AS note"),
            str(tmp_path), "lake/flat", [],
            target_database="db_flat", table_name="flat", mode="append",
        )
        counts.append(spark.table("db_flat.flat").count())
    assert counts == [1, 2, 3]
    spark.sql("DROP TABLE db_flat.flat")


def test_snapshot_diff_row_level(spark):
    """snapshot_diff classifies added/removed/changed/unchanged and
    flags exactly the drifted columns, null-safely."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        snapshot_diff,
    )

    prev = spark.createDataFrame(
        [
            (1, 10.0, "A"),   # unchanged
            (2, 20.0, "B"),   # price changes
            (3, None, "C"),   # null -> value (changed, price flag)
            (4, 40.0, None),  # status null both sides (unchanged)
            (5, 50.0, "E"),   # removed
        ],
        "k int, price double, status string",
    )
    cur = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, 21.0, "B"),
            (3, 30.0, "C"),
            (4, 40.0, None),
            (6, 60.0, "F"),   # added
        ],
        "k int, price double, status string",
    )
    out = {
        r.k: r
        for r in snapshot_diff(cur, prev, ["k"], ["price", "status"]).collect()
    }
    assert len(out) == 6
    assert out[1].diff_status == "unchanged" and not out[1].chg_price
    assert out[2].diff_status == "changed" and out[2].chg_price
    assert not out[2].chg_status
    assert out[3].diff_status == "changed" and out[3].chg_price
    assert out[4].diff_status == "unchanged" and not out[4].chg_status
    assert out[5].diff_status == "removed" and not out[5].chg_price
    assert out[6].diff_status == "added" and not out[6].chg_price


def test_bloom_prefilter_join_equals_plain_join(spark):
    """bloom_prefilter_join returns exactly the plain join's rows (no
    false negatives), and its probe side is filtered via broadcast
    semi-joins (no added Exchange on the big side)."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.skew import (
        bloom_prefilter_join,
    )
    from tests.conftest import SF_SMALL
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    # selective dimension: 5% of orders
    od = (
        load_table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    got = bloom_prefilter_join(li, od, "l_orderkey")
    want = li.join(od, "l_orderkey")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") >= 3
    assert "SortMergeJoin" not in plan  # probe side never reshuffled
    # outer joins must fall back to the plain join (prefilter would
    # drop big-side rows the join type keeps)
    lo = bloom_prefilter_join(li, od, "l_orderkey", how="left")
    assert lo.count() == li.join(od, "l_orderkey", "left").count()


def test_engine_validate_job_dry_run(spark, tmp_path):
    """validate_job plans the full query (schema, physical plan,
    partition keys, issue list) without writing anything; an
    unresolvable query reports INVALID instead of raising."""
    import os

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

    lake = tmp_path / "lake"
    eng = Engine(
        spark,
        SourceRegistry(spark, parquet_root=SF_SMALL),
        EngineConfig(target_root=str(lake), register_catalog=False),
    )
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "orders",
            "Query": "SELECT o_orderkey, o_orderdate FROM orders",
            "PartitionedSink": True,
            "ColumnForPartitioningOnS3": "o_orderdate",
        }
    )
    v = eng.validate_job(plan.jobs[0])
    assert v["status"] == "VALID"
    assert "o_orderkey" in v["schema"]
    assert v["partition_keys"]  # date-derived year/month/day
    assert "Scan parquet" in v["physical_plan"]
    assert v["source_path"] == "files"
    # no-expected-count advisory, and nothing written to the lake
    assert any("ExpectedAmountOfRecords" in i for i in v["issues"])
    assert not lake.exists() or not os.listdir(lake)

    # partition column dropped by the projection -> advisory issue
    plan2 = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "orders",
            "Query": "SELECT o_orderkey FROM orders",
            "PartitionedSink": True,
            "ColumnForPartitioningOnS3": "o_orderdate",
            "ExpectedAmountOfRecords": 1,
        }
    )
    # partition column dropped by the projection is a RUNTIME failure
    # (clean_pipeline raises) — the validator must surface it as INVALID
    v2 = eng.validate_job(plan2.jobs[0])
    assert v2["status"] == "INVALID"
    assert "ColumnForPartitioningOnS3" in v2["error"]

    # unresolved column -> INVALID with the analyzer's message
    bad = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "orders",
            "Query": "SELECT no_such_column FROM orders",
        }
    )
    vb = eng.validate_job(bad.jobs[0])
    assert vb["status"] == "INVALID"
    assert "no_such_column" in vb["error"]
    assert not lake.exists() or not os.listdir(lake)


def test_join_delta_equals_full_recompute(spark):
    """IVM invariant: base-join ∪ join_delta == full join, as
    multisets, for insert-only deltas."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        join_delta,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )
    from tests.conftest import SF_SMALL

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_acctbal"
    )
    base_a = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta_a = orders.filter(F.col("o_orderkey") % 5 == 0)
    base_b = cust.filter(F.col("o_custkey") % 3 != 0)
    delta_b = cust.filter(F.col("o_custkey") % 3 == 0)

    incremental = base_a.join(base_b, "o_custkey").unionByName(
        join_delta(base_a, delta_a, base_b, delta_b, "o_custkey")
    )
    full = orders.join(cust, "o_custkey")
    assert sorted(map(tuple, incremental.collect())) == sorted(
        map(tuple, full.collect())
    )


# ---- round-5 ADVICE regression fixes --------------------------------


def test_snapshot_diff_key_only_table(spark):
    """ADVICE r4: key-only snapshots (no compare columns) must classify
    added/removed/unchanged instead of raising IndexError."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        snapshot_diff,
    )

    prev = spark.createDataFrame([(1,), (2,)], "k int")
    cur = spark.createDataFrame([(2,), (3,)], "k int")
    out = {r.k: r.diff_status for r in snapshot_diff(cur, prev, ["k"]).collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "added"}
    # no chg_* columns for a key-only diff
    cols = snapshot_diff(cur, prev, ["k"]).columns
    assert cols == ["k", "diff_status"]


def test_join_delta_rejects_outer_joins(spark):
    """ADVICE r4: the three-term delta identity only holds for
    inner-type joins — outer joins must raise, not silently mis-merge."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cdc import (
        join_delta,
    )

    a = spark.createDataFrame([(1, "a")], "k int, va string")
    b = spark.createDataFrame([(1, "b")], "k int, vb string")
    # semi included: A semi B and A semi dB overlap for rows matching
    # both sides, so the three-term union double-emits them
    for how in ("left", "full", "right", "left_outer", "full_outer", "semi"):
        with _pytest.raises(ValueError, match="inner"):
            join_delta(a, a, b, b, "k", how=how)
    # inner still works
    assert join_delta(a, a.limit(0), b, b.limit(0), "k").count() == 0


def test_merge_schemas_late_field_is_nullable():
    """ADVICE r4: a field first introduced by a LATER schema is null-
    backfilled in earlier frames, so it must come out nullable even if
    its own flag is non-nullable."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.schema_evolution import (
        merge_schemas,
    )

    s_old = StructType([StructField("id", LongType(), False)])
    s_new = StructType(
        [
            StructField("id", LongType(), False),
            StructField("channel", StringType(), False),  # non-nullable!
        ]
    )
    merged = merge_schemas([s_old, s_new])
    assert not merged["id"].nullable  # present non-nullable everywhere
    assert merged["channel"].nullable  # missing from s_old => nullable
    # order independence of the nullability contract
    merged_rev = merge_schemas([s_new, s_old])
    assert merged_rev["channel"].nullable


def test_sink_overwrite_refreshes_schema_sidecar(spark, tmp_path):
    """ADVICE r4: a stale _schema.json from prior evolving appends must
    not survive an overwrite unreconciled.

    Static overwrite => sidecar becomes the overwriting frame's schema.
    Dynamic overwrite => sidecar becomes the widened merge (untouched
    partitions keep their old schema on disk)."""
    import json
    from pathlib import Path

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    d1 = spark.createDataFrame([(1, 10, "2020")], "id int, qty int, year string")
    write_partitioned_parquet(d1, str(tmp_path), "lake/sc", ["year"], mode="append")
    # evolving append widens qty and adds channel -> sidecar written
    d2 = spark.createDataFrame(
        [(2, 20_000_000_000, "web", "2021")],
        "id long, qty long, channel string, year string",
    )
    write_partitioned_parquet(
        d2, str(tmp_path), "lake/sc", ["year"], mode="append", evolve_schema=True
    )
    side = Path(str(tmp_path)) / "lake" / "sc" / "_schema.json"
    assert side.exists()
    before = json.loads(side.read_text())
    assert "channel" in [f["name"] for f in before["fields"]]

    # dynamic overwrite of ONE partition with a narrower frame:
    # sidecar must stay the widened merge (old partitions still hold
    # long qty + channel files)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "dynamic"
    )
    d3 = spark.createDataFrame([(3, 30, "2020")], "id int, qty int, year string")
    write_partitioned_parquet(d3, str(tmp_path), "lake/sc", ["year"], mode="overwrite")
    merged = {f["name"]: f["type"] for f in json.loads(side.read_text())["fields"]}
    assert merged["qty"] == "long" and "channel" in merged

    # a later evolving append must reconcile against that honest schema
    d4 = spark.createDataFrame(
        [(4, 40, "app", "2022")], "id int, qty int, channel string, year string"
    )
    write_partitioned_parquet(
        d4, str(tmp_path), "lake/sc", ["year"], mode="append", evolve_schema=True
    )
    # the files d4 wrote were aligned to the merged (long qty) schema
    from pyspark.sql.types import StructType as _St

    data_sch = _St.fromJson(json.loads(side.read_text()))
    got = spark.read.schema(
        _St([f for f in data_sch.fields if f.name != "year"])
    ).parquet(str(tmp_path / "lake" / "sc" / "year=2022"))
    assert dict(got.dtypes)["qty"] == "bigint"
    assert got.collect()[0]["qty"] == 40

    # static overwrite replaces everything: sidecar = frame schema
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        d5 = spark.createDataFrame([(9, "2020")], "id int, year string")
        write_partitioned_parquet(
            d5, str(tmp_path), "lake/sc", ["year"], mode="overwrite"
        )
        names = [f["name"] for f in json.loads(side.read_text())["fields"]]
        assert names == ["id", "year"]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


@pytest.mark.slow
def test_post_write_maintenance_optimize_zorder(spark, tmp_path):
    """VERDICT r4 item 4: the single OPTIMIZE-equivalent mode — compaction
    + z-order clustering + stats refresh through post_write_maintenance —
    serves the same oracle rows from fewer, z-clustered files."""
    import glob

    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        zorder_key,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        post_write_maintenance,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    # many small appends -> small-file problem, 2-D access pattern (x, y)
    df = spark.range(0, 4000).selectExpr(
        "id",
        "CAST(id % 2 AS STRING) AS part",
        "CAST(id % 97 AS LONG) AS x",
        "CAST((id * 31) % 89 AS LONG) AS y",
    )
    for i in range(4):
        write_partitioned_parquet(
            df.where(F.col("id") % 4 == i), str(tmp_path), "lake/opt",
            ["part"], target_database="db_opt", table_name="opt", mode="append",
        )
    path = str(tmp_path / "lake" / "opt")
    before_files = len(glob.glob(f"{path}/part=*/*.parquet"))
    expected = sorted(map(tuple, df.collect()))

    post_write_maintenance(
        spark, "db_opt.opt", columns=["x", "y"],
        compact_path=path, partition_keys=["part"],
        zorder_by=("x", "y"), target_files_per_partition=2,
    )

    after = sorted(glob.glob(f"{path}/part=*/*.parquet"))
    assert len(after) < before_files
    # same oracle rows after the swap
    got = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("id", F.col("part").cast("string"), "x", "y")
            .collect(),
        )
    )
    assert got == expected
    # clustering: within a hive partition, files hold disjoint z-ranges
    by_part: dict[str, list[tuple[int, int]]] = {}
    for f in after:
        zf = spark.read.parquet(f).select(
            zorder_key(F.col("x"), F.col("y")).alias("z")
        )
        lohi = zf.agg(F.min("z"), F.max("z")).collect()[0]
        by_part.setdefault(f.rsplit("/", 2)[1], []).append((lohi[0], lohi[1]))
    for part, ranges in by_part.items():
        ranges.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (part, ranges)
    spark.sql("DROP TABLE db_opt.opt")


def test_prefix_edit_distance_pairs_short_prefix_exact(spark):
    """r5 review fix: the PassJoin pigeonhole needs tau+1 non-empty
    segments; prefixes shorter than tau+1 route through exact side
    channels. Brute-force differential over a corpus that mixes
    empty/1-char/3-char/long prefixes."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        prefix_edit_distance_pairs,
    )

    texts = ["", "a", "b", "ab", "abc", "xyz", "abcd", "abcz",
             "abcdefgh", "abcdefgz", "zbcdefgh", "qrstuvwx",
             "abcdefghijklmnop", "abcdefghijklmnoq"]
    rows = [(i, "en" if i % 2 == 0 else "fr", t, len(t)) for i, t in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, prefix string, n long")\
        .selectExpr("doc_id", "lang", "prefix", "CAST(floor(n / 4) AS LONG) AS b")

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return dp[n]

    tau = 3
    expect = set()
    for i, (ida, la, pa, na) in enumerate(rows):
        for idb, lb, pb, nb in rows[i + 1:]:
            if la == lb and abs(na // 4 - nb // 4) <= 1 and lev(pa, pb) <= tau:
                expect.add((ida, idb, lev(pa, pb)))
    got = {
        (r.doc_id_a, r.doc_id_b, r.edit_distance)
        for r in prefix_edit_distance_pairs(d, tau=tau).collect()
    }
    assert got == expect and len(expect) > 3, (sorted(got), sorted(expect))


def test_compact_partitions_crash_recovery(spark, tmp_path):
    """The stage-and-swap's deterministic .old name makes a death
    between the two renames self-healing: the next call finds the
    orphan, renames it back, and compacts normally. Also covers the
    stale-.old case (death after tmp->path)."""
    import glob
    import shutil
    from pathlib import Path

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        compact_partitions,
    )

    path = Path(str(tmp_path / "t"))
    df = spark.range(0, 300).selectExpr("id", "CAST(id % 3 AS STRING) AS part")
    df.repartition(6).write.partitionBy("part").parquet(str(path))
    expected = sorted(r.id for r in spark.read.parquet(str(path)).collect())

    # simulate death BETWEEN the renames: dataset lives only under .old
    old = path.parent / f".{path.name}.old"
    path.rename(old)
    assert not path.exists()
    compact_partitions(spark, str(path), ["part"], target_files_per_partition=1)
    assert sorted(r.id for r in spark.read.parquet(str(path)).collect()) == expected
    assert len(glob.glob(f"{path}/part=*/*.parquet")) == 3
    assert not old.exists()

    # simulate death AFTER tmp->path (stale .old alongside a live path)
    shutil.copytree(path, old)
    compact_partitions(spark, str(path), ["part"], target_files_per_partition=1)
    assert sorted(r.id for r in spark.read.parquet(str(path)).collect()) == expected
    assert not old.exists()


def test_review_fixes_batch2(spark, tmp_path):
    """r5 second review batch: corrupt-media ValueError contract,
    null-keyed uniqueness, name-collision fail-fast, tolerant plan
    ints, wired validate()."""
    import numpy as np
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.cleaning import (
        normalize_column_names,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        media_meta,
        png_encode_gray,
        png_parse_meta,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.quality import (
        CheckSpec,
        run_checks,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.plans.model import (
        ExtractionPlan,
    )

    # truncated PNG raises ValueError (not struct.error) at EVERY cut
    png = png_encode_gray(np.zeros((8, 8), dtype="uint8"))
    for cut in range(9, len(png) - 1, 7):
        try:
            png_parse_meta(png[:cut])
        except ValueError:
            pass  # quarantine-able
    assert media_meta(png[:31]) == (None, None, None)

    # a clean table with a NULL key passes its uniqueness gate
    d = spark.createDataFrame([(1,), (2,), (3,), (None,)], "k int")
    res = {r.check: r.n_violations for r in run_checks(d, CheckSpec(unique=["k"])).collect()}
    assert res["unique"] == 0
    # duplicates among NULL keys ARE violations
    d2 = spark.createDataFrame([(None,), (None,)], "k int")
    res2 = {r.check: r.n_violations for r in run_checks(d2, CheckSpec(unique=["k"])).collect()}
    assert res2["unique"] == 1

    # colliding normalized names fail fast with a clear message
    df = spark.createDataFrame([(1, 2)], ["Order Id", "order_id"])
    with _pytest.raises(ValueError, match="collide"):
        normalize_column_names(df)

    # blank/null numeric plan fields parse tolerantly; missing Query is
    # a curated validate() message, not an AttributeError
    plan = ExtractionPlan.from_dict(
        {
            "SourceName": "s", "SourceDatabase": "d", "SourceSchema": "x",
            "SourceTable": "t", "MigrationPart": None, "NumberOfWorkers": " ",
        }
    )
    assert plan.jobs[0].migration_part == 1
    assert plan.jobs[0].number_of_workers == 3
    assert plan.jobs[0].execution_hash_id  # no crash on query=None
    assert any("empty Query" in p for p in plan.validate())


def test_asof_join_does_not_blend_right_rows(spark):
    """r5 review batch 3: nullable right payload columns must come from
    ONE as-of row, not be forward-filled independently (which invents
    rows that never existed)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(1, "2020-01-01 00:00:03")], "k int, ts string"
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
    right = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:01", 5.0, None),
            (1, "2020-01-01 00:00:02", None, 7.0),
        ],
        "k int, rts string, a double, b double",
    ).selectExpr("k", "CAST(rts AS TIMESTAMP) AS rts", "a", "b")
    row = asof_join_backward(
        left, right, on="k", left_ts="ts", right_ts="rts",
        right_cols=["a", "b"], right_tiebreak="b",
    ).collect()[0]
    # the as-of row is (ts=2, a=null, b=7) — a must stay NULL
    assert row.a is None and row.b == 7.0
    assert str(row._matched_ts).endswith("00:00:02")


def test_catalog_recreated_on_type_widening(spark, tmp_path):
    """r5 review batch 3: an evolve-append that widens a column type
    must re-create the catalog table (same column NAMES, new type) or
    reads fail on INT64 files under an int catalog column."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    d1 = spark.createDataFrame([(1, 10, "2020")], "id int, qty int, year string")
    write_partitioned_parquet(
        d1, str(tmp_path), "lake/tw", ["year"],
        target_database="db_tw", table_name="tw", mode="append",
    )
    d2 = spark.createDataFrame(
        [(2, 20_000_000_000, "2021")], "id int, qty long, year string"
    )
    write_partitioned_parquet(
        d2, str(tmp_path), "lake/tw", ["year"],
        target_database="db_tw", table_name="tw", mode="append",
        evolve_schema=True,
    )
    rows = spark.sql("SELECT id, qty FROM db_tw.tw ORDER BY id").collect()
    assert [(r.id, r.qty) for r in rows] == [(1, 10), (2, 20_000_000_000)]
    assert dict(spark.table("db_tw.tw").dtypes)["qty"] == "bigint"
    spark.sql("DROP TABLE db_tw.tw")


# ---- round-6 ADVICE r5 regression tests ------------------------------


def test_compact_preserves_schema_sidecar(spark, tmp_path):
    """ADVICE r5 (medium): compaction must carry the `_schema.json`
    sidecar through the stage-and-swap — it is the schema
    source-of-truth for int->long-widened datasets, and losing it
    makes later evolving appends fall back to an unreconcilable
    single-footer read."""
    import json

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        compact_partitions,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sinks.parquet_sink import (
        write_partitioned_parquet,
    )

    root = str(tmp_path)
    d_int = spark.createDataFrame([(1, 10, "a")], "id INT, v INT, part STRING")
    d_long = spark.createDataFrame(
        [(2, 2**40, "b")], "id INT, v LONG, part STRING"
    )
    write_partitioned_parquet(d_int, root, "t", ["part"], evolve_schema=True)
    write_partitioned_parquet(d_long, root, "t", ["part"], evolve_schema=True)
    path = tmp_path / "t"
    side = path / "_schema.json"
    assert side.exists()
    schema_before = json.loads(side.read_text())

    compact_partitions(spark, str(path), ["part"], target_files_per_partition=1)

    # sidecar survived the swap, verbatim
    assert side.exists(), "compaction deleted the schema sidecar"
    assert json.loads(side.read_text()) == schema_before

    # the widened read is intact AND a further evolving append still
    # reconciles against the sidecar (the failure mode advice named)
    assert {r.v for r in spark.read.parquet(str(path)).collect()} == {10, 2**40}
    write_partitioned_parquet(
        spark.createDataFrame([(3, 7, "c")], "id INT, v INT, part STRING"),
        root,
        "t",
        ["part"],
        evolve_schema=True,
    )
    got = spark.read.parquet(str(path))
    assert dict(got.dtypes)["v"] == "bigint"
    assert {r.v for r in got.collect()} == {10, 2**40, 7}


def test_compact_sweeps_orphaned_staging_dirs(spark, tmp_path):
    """A crash between the staging write and the swap orphans a
    `.{name}.compact-<uuid>` dir; the next call must sweep it (r5
    VERDICT minor: disk leaks accumulated across crashed runs)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.maintenance import (
        compact_partitions,
    )

    path = tmp_path / "t"
    spark.range(0, 100).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS part"
    ).write.partitionBy("part").parquet(str(path))
    orphan = tmp_path / f".{path.name}.compact-deadbeef"
    orphan.mkdir()
    (orphan / "junk.parquet").write_text("crashed staging write")

    compact_partitions(spark, str(path), ["part"])
    assert not orphan.exists()
    assert spark.read.parquet(str(path)).count() == 100
    assert not list(tmp_path.glob(f".{path.name}.compact-*"))


@pytest.mark.slow
def test_range_join_overflow_modes(spark):
    """ADVICE r5: an interval spanning more buckets than the cap must
    fail loudly by default (silent clamping lost tail matches); the
    documented 'truncate' opt-in keeps the old sentinel-neutralizing
    behavior."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.temporal import (
        range_join_bucketed,
    )

    ivl = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", "2024-01-01 02:00:00")],
        ["k", "start_ts", "end_ts"],
    ).selectExpr(
        "k",
        "CAST(start_ts AS TIMESTAMP_NTZ) AS start_ts",
        "CAST(end_ts AS TIMESTAMP_NTZ) AS end_ts",
    )
    # a point in the interval's TAIL, past the 4-bucket cap below
    pts = spark.createDataFrame(
        [("k", "2024-01-01 01:59:00")], ["k", "pt_ts"]
    ).selectExpr("k", "CAST(pt_ts AS TIMESTAMP_NTZ) AS pt_ts")

    kwargs = dict(
        on="k",
        point_ts="pt_ts",
        start_ts="start_ts",
        end_ts="end_ts",
        bucket_s=60,
        max_buckets_per_interval=4,
    )
    with _pytest.raises(Exception, match="max_buckets_per_interval"):
        range_join_bucketed(pts, ivl, **kwargs).collect()

    # truncate: job survives, tail match is (documentedly) dropped
    assert (
        range_join_bucketed(pts, ivl, on_overflow="truncate", **kwargs).count() == 0
    )
    # and an in-cap interval matches identically in both modes
    ok = dict(kwargs, max_buckets_per_interval=100_000)
    assert range_join_bucketed(pts, ivl, **ok).count() == 1
    assert range_join_bucketed(pts, ivl, on_overflow="truncate", **ok).count() == 1

    with _pytest.raises(ValueError, match="on_overflow"):
        range_join_bucketed(pts, ivl, on_overflow="quarantine", **kwargs)


@pytest.mark.slow
def test_edit_distance_midrange_tau_differential(spark):
    """ADVICE r5: tau is a parameter of the entry, and the PassJoin
    index must be exact at mid-range taus (4..12), not just the tau=3
    default — verified against an independent Python DP Levenshtein
    over a corpus engineered to have distances all through 0..14."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
        prefix_edit_distance_pairs,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    base = "the quick brown fox jumps over the lazy dog and keeps running"
    docs = [(0, base)]
    # substitutions, deletions, insertions at controlled depths
    for d in range(1, 15):
        docs.append((d, base[:d].upper() + base[d:]))  # d substitutions
        docs.append((100 + d, base[d:]))  # d deletions (length drift)
        docs.append((200 + d, ("x" * d) + base))  # d insertions
    rows = [(i, "en", t, len(t) // 16) for i, t in docs]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "prefix", "b"])

    for tau in (5, 8, 12):
        got = {
            (r.doc_id_a, r.doc_id_b)
            for r in prefix_edit_distance_pairs(d, tau=tau, bucket_radius=1).collect()
        }
        want = {
            (min(a_id, b_id), max(a_id, b_id))
            for ai, (a_id, a) in enumerate(docs)
            for b_id, b in docs[ai + 1 :]
            if abs(len(a) // 16 - len(b) // 16) <= 1 and lev(a, b) <= tau
        }
        assert got == want, (
            f"tau={tau}: missing={sorted(want - got)[:5]} "
            f"extra={sorted(got - want)[:5]}"
        )


def test_dot_udf_matches_sql_fold(spark):
    """The vectorized pair-dot UDF must be BIT-identical to the SQL
    fold dot_expr on real embedding PAIRS (the SemDeDup verify path):
    sequential-dimension accumulation reproduces the fold's
    left-to-right IEEE order, so 6-dp-rounded cosines cannot diverge.
    Strict bit equality asserted on the raw doubles, not the rounding."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        dot_expr,
        dot_udf,
    )
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, (F.col("ia") % 17) == (F.col("ib") % 17)).limit(20000)
    both = pairs.select(
        F.expr(f"({dot_expr('va', 'vb')})").alias("sql_dot"),
        dot_udf()(F.col("va"), F.col("vb")).alias("udf_dot"),
    )
    bad = both.filter(
        ~(F.col("sql_dot") == F.col("udf_dot"))
    ).count()
    assert bad == 0
    nulls = spark.createDataFrame(
        [(1, None, None)], "i int, va array<float>, vb array<float>"
    ).select(dot_udf()(F.col("va"), F.col("vb")).alias("d"))
    assert nulls.collect()[0]["d"] is None


def test_lsh_signature_udf_matches_sql_fold(spark):
    """The vectorized signature UDF must be BIT-identical to the SQL
    fold bucket_expr on real embeddings — the sequential-dimension
    accumulation reproduces the fold's left-to-right IEEE order, so
    no near-zero sign may flip (the failure mode that rejected plain
    numpy matmul for cosine parity)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        bucket_expr,
        hyperplanes,
        lsh_signature_udf,
    )
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hp = hyperplanes(64, 64)
    both = df.select(
        "vec_id",
        F.expr(bucket_expr("embedding", hp)).alias("sql_sig"),
        lsh_signature_udf(hp)(F.col("embedding")).alias("udf_sig"),
    )
    bad = both.filter(F.col("sql_sig") != F.col("udf_sig")).count()
    assert bad == 0
    # null embeddings come back null, not garbage
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id int, embedding array<float>"
    ).select(lsh_signature_udf(hp)(F.col("embedding")).alias("s"))
    assert nulls.collect()[0].s is None


@pytest.mark.slow
def test_pq_encode_udf_matches_sql_form(spark):
    """The Arrow/NumPy PQ encoder must be BIT-identical to the
    unrolled-literal SQL form on real embeddings at two SFs — the
    sequential dim/subspace accumulation reproduces the SQL's
    left-to-right IEEE sum order, the argmin is first-min like
    array_position(d, array_min(d)), and the mse readout replays the
    floor-scaled arithmetic exactly."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.functions.pq import (
        PQ_CENTROIDS,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        pq_codebook,
        pq_encode_udf,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_mining import (
        _pq_spark_sql,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        register_parquet_views,
    )

    enc = pq_encode_udf(
        pq_codebook(PQ_SUBSPACES, PQ_CENTROIDS, PQ_SUBDIM)
    )
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        register_parquet_views(spark, sf, ["embeddings"])
        sql_rows = {
            r.vec_id: (r.codes, r.mse)
            for r in spark.sql(_pq_spark_sql()).collect()
        }
        udf_rows = {
            r.vec_id: (r.codes, r.mse)
            for r in spark.read.parquet(f"{sf}/embeddings.parquet")
            .select("vec_id", enc("embedding").alias("_e"))
            .select("vec_id", "_e.codes", "_e.mse")
            .collect()
        }
        assert udf_rows == sql_rows, sf
    # null embeddings come back null, not garbage
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id int, embedding array<float>"
    ).select(enc(F.col("embedding")).alias("e"))
    row = nulls.collect()[0].e
    assert row.codes is None and row.mse is None


def test_pq_residual_codes_udf_matches_hof_chain(spark):
    """The vectorized residual-PQ encoder must be BIT-identical to the
    HOF chain it replaced in build_ivfpq_index (zip_with residual,
    then per-subspace array_position(transform(book, cent ->
    aggregate(...)), array_min(...))) on real (vector, centroid)
    pairs — same fold order, same first-min tiebreak."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.functions.pq import (
        PQ_CENTROIDS,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        pq_codebook,
        pq_residual_codes_udf,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        _pq_book_lit,
        _sq_l2_agg,
        label_centroids,
    )

    book = pq_codebook(PQ_SUBSPACES, PQ_CENTROIDS, PQ_SUBDIM)
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = label_centroids(df, "embedding", "label").select(
        F.col("label").alias("list_label"), "centroid"
    )
    # every (vector, its-label centroid) pair — a superset of the
    # assignment pairs the operator encodes
    paired = df.join(
        F.broadcast(cents), df.label == F.col("list_label")
    ).withColumn(
        "_res",
        F.expr("zip_with(embedding, centroid, (x, c) -> CAST(x AS DOUBLE) - c)"),
    )
    hof = paired
    for s in range(PQ_SUBSPACES):
        sub = f"slice(_res, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
        dists = (
            f"transform({_pq_book_lit(book[s])}, "
            f"cent -> {_sq_l2_agg(sub, 'cent')})"
        )
        hof = hof.withColumn(
            f"h{s}",
            F.expr(f"array_position(({dists}), array_min({dists}))").cast("int"),
        )
    both = hof.withColumn(
        "_k", pq_residual_codes_udf(book)(F.col("embedding"), F.col("centroid"))
    )
    mismatch = both.filter(
        " OR ".join(
            f"h{s} IS DISTINCT FROM _k.code{s}" for s in range(PQ_SUBSPACES)
        )
    ).count()
    assert mismatch == 0


def test_jpeg_meta_parse_cross_validates_against_jvm_encoder(spark, tmp_path):
    """The dependency-free JPEG SOF marker walk, differentially
    validated against an independent ENCODER (executor-side
    javax.imageio baseline JPEGs): parsed dims must equal the
    generator-spec dims for every fixture, through both the pure
    function and the Arrow-batched decode_image_meta kernel over a
    binary column."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        decode_image_meta,
        jpeg_parse_meta,
        media_meta,
        synthetic_image_dims,
        write_jpeg_fixtures,
    )

    paths = write_jpeg_fixtures(spark, str(tmp_path / "jpegs"), n=6)
    rows = []
    for i, p in enumerate(paths):
        b = open(p, "rb").read()
        w, h = synthetic_image_dims(i)
        assert jpeg_parse_meta(b) == (w, h, 3)
        assert media_meta(b) == ("jpeg", w, h)
        rows.append((i, "image", b, len(b), p))
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, "
        "n_bytes long, source_uri string"
    )
    got = {
        r.asset_id: r
        for r in decode_image_meta(assets).collect()
    }
    for i in range(6):
        w, h = synthetic_image_dims(i)
        assert (got[i].format, got[i].width, got[i].height) == ("jpeg", w, h)


def test_media_meta_gif_bmp_headers():
    """GIF logical-screen-descriptor and BMP DIB-header dims parse
    from hand-built minimal containers; corrupt JPEG streams map to
    all-None instead of raising."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        media_meta,
    )

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 8
    assert media_meta(gif) == ("gif", 320, 200)
    bmp = (
        b"BM" + b"\x00" * 12
        + (40).to_bytes(4, "little")
        + (640).to_bytes(4, "little", signed=True)
        + (-480).to_bytes(4, "little", signed=True)  # top-down rows
        + b"\x00" * 4
    )
    assert media_meta(bmp) == ("bmp", 640, 480)
    assert media_meta(b"\xff\xd8\xff" + b"\x00" * 16) == (None, None, None)
    assert media_meta(b"\xff\xd8\xff\xe0\xff\xff" + b"\x00" * 16) == (
        None,
        None,
        None,
    )


def test_decode_jpeg_pixels_pillow_gated(spark, tmp_path):
    """Pillow-gated pixel decode of JPEG bytes in a binary column —
    skips where the import probe fails (this container, probed
    2026-08-15), runs for real on a Pillow-equipped image."""
    pytest.importorskip("PIL")
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        decode_jpeg_pixels,
        synthetic_image_dims,
        write_jpeg_fixtures,
    )

    paths = write_jpeg_fixtures(spark, str(tmp_path / "jp"), n=4)
    rows = [
        (i, "image", open(p, "rb").read(), 0, p) for i, p in enumerate(paths)
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, "
        "n_bytes long, source_uri string"
    )
    got = {r.asset_id: r for r in decode_jpeg_pixels(assets).collect()}
    assert len(got) == 4
    for i in range(4):
        w, h = synthetic_image_dims(i)
        assert (got[i].width, got[i].height) == (w, h)
        assert 0.0 <= got[i].mean_luma <= 255.0
        assert len(got[i].pixels_md5) == 32


def test_decode_jpeg_pixels_raises_without_pillow():
    """The gate itself: where Pillow is absent the kernel function
    raises the documented NotImplementedError (not a silent wrong
    answer)."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators import (
        multimodal as mm,
    )

    if mm.HAS_PILLOW:
        pytest.skip("Pillow present: the gated path is live")
    with pytest.raises(NotImplementedError, match="Pillow"):
        mm.jpeg_decode_gray(b"\xff\xd8\xff\xe0")


def test_png_codec_cross_validates_against_jvm_imageio(spark, tmp_path):
    """Independent differential for the self-written PNG codec: PNGs
    emitted by png_encode_gray, decoded by a DIFFERENT implementation
    (executor-side javax.imageio through Spark's image source), must
    reproduce the source pixel bytes exactly — PNG is lossless, so any
    codec bug on either side breaks byte equality."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        png_encode_gray,
        read_images_jvm,
        synthetic_image_dims,
        synthetic_image_pixels,
    )

    d = tmp_path / "pngs"
    d.mkdir()
    for i in range(6):
        (d / f"img-{i:04d}.png").write_bytes(
            png_encode_gray(synthetic_image_pixels(i))
        )
    rows = {r.origin.rsplit("-", 1)[-1]: r for r in read_images_jvm(spark, str(d)).collect()}
    assert len(rows) == 6
    for i in range(6):
        r = rows[f"{i:04d}.png"]
        w, h = synthetic_image_dims(i)
        assert (r.height, r.width, r.n_channels) == (h, w, 1)
        assert bytes(r.data) == synthetic_image_pixels(i).tobytes()


def test_wav_codec_cross_validates_against_jvm_audiosystem(spark, tmp_path):
    """Same independent-differential idea for the WAV codec: files
    emitted by wav_encode_pcm16, parsed by javax.sound.sampled, must
    declare the exact format (mono PCM16 LE at the stated rate) and
    reproduce the sample bytes exactly."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.multimodal import (
        synthetic_audio_samples,
        wav_encode_pcm16,
    )

    jvm = spark._jvm
    for i in range(4):
        s = synthetic_audio_samples(i)
        f = tmp_path / f"a{i}.wav"
        f.write_bytes(wav_encode_pcm16(s, rate=8000))
        ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
            jvm.java.io.File(str(f))
        )
        fmt = ais.getFormat()
        assert (
            fmt.getSampleRate(),
            fmt.getSampleSizeInBits(),
            fmt.getChannels(),
            fmt.isBigEndian(),
        ) == (8000.0, 16, 1, False)
        assert bytes(ais.readAllBytes()) == s.tobytes()


def test_hll_register_rows_match_bit_arithmetic(spark):
    """The nibble-wise SQL rank formula equals independent integer bit
    arithmetic on the same md5 words: idx = first byte of the hash,
    rho = leading zeros of the next 48 bits + 1 (49 when zero)."""
    import hashlib

    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.functions.sketches import (
        hll_register_rows,
    )

    keys = list(range(1000))
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).select(
        F.col("k").cast("long").alias("k")
    )
    reg = hll_register_rows(df, "k").collect()
    expected = []
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        idx = int(h[:2], 16)
        w = int(h[2:14], 16)
        rho = 49 - w.bit_length() if w else 49
        expected.append((idx, rho))
    assert sorted((r["idx"], r["rho"]) for r in reg) == sorted(expected)


@pytest.mark.slow
def test_ivfpq_index_parquet_roundtrip(spark, tmp_path):
    """Train-once / search-many: the IVF-PQ index halves (codebook +
    encoded lists) survive a parquet round trip bit-losslessly — the
    search over the re-read index equals the search over the freshly
    built one."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        build_ivfpq_index,
        ivf_pq_adc_topk,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.functions.pq import (
        PQ_CENTROIDS,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        pq_codebook,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    book = pq_codebook(PQ_SUBSPACES, PQ_CENTROIDS, PQ_SUBDIM)
    df = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codebook, lists = build_ivfpq_index(df, book)
    codebook.write.parquet(str(tmp_path / "codebook"))
    lists.write.parquet(str(tmp_path / "lists"))
    persisted = (
        spark.read.parquet(str(tmp_path / "codebook")),
        spark.read.parquet(str(tmp_path / "lists")),
    )
    direct = ivf_pq_adc_topk(df, book, query_ids=[0, 1, 2], k=5, nprobe=2)
    reread = ivf_pq_adc_topk(
        df, book, query_ids=[0, 1, 2], k=5, nprobe=2, index=persisted
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, reread.collect())
    )


@pytest.mark.slow
def test_exact_ntile_matches_window_ntile(spark):
    """exact_ntile / global_row_number (the distributed replacements
    for the single-task unpartitioned window) are bit-identical to the
    window forms under a total order — including the uneven-bucket
    edge (first N%n buckets one row larger) and N < n."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        exact_ntile,
        global_row_number,
    )

    for n_rows, k in [(97, 10), (100, 10), (5, 8), (1, 3), (1000, 7)]:
        df = (
            spark.range(n_rows)
            .withColumn("key", F.expr("xxhash64(id)"))
            .withColumn("pad", F.lit("x"))
        )
        w = Window.orderBy("key", "id")
        expected = {
            (r.id): (r.rn, r.bucket)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.ntile(k).over(w).alias("bucket"),
            ).collect()
        }
        rn = global_row_number(df, ["key", "id"], out="rn", num_partitions=6)
        nt = exact_ntile(df, ["key", "id"], k, out="bucket")
        got_rn = {r.id: r.rn for r in rn.collect()}
        got_nt = {r.id: r.bucket for r in nt.collect()}
        for i in expected:
            assert got_rn[i] == expected[i][0], (n_rows, k, i)
            assert got_nt[i] == expected[i][1], (n_rows, k, i)
        spark.catalog.clearCache()


def test_exact_file_chunks_layout_identical_to_coalesce1(spark, tmp_path):
    """exact_file_chunks (the parallel replacement for the band3
    entries' single-task ``orderBy().coalesce(1)`` tiny-file writes)
    commits a file layout IDENTICAL to the coalesce(1) form: same file
    count, same per-file (rows, min, max) multiset, same data-skipping
    decisions — only file names / write parallelism differ."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.lakehouse import (
        TransactionLog,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        exact_file_chunks,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )
    from tests.conftest import SF_SMALL

    def layout_sig(t, pkey=None):
        files = t._replay(t.latest_version())["files"]
        sig = []
        for a in files.values():
            s = a["stats"]["o_orderkey"]
            pv = (a.get("partition_values") or {}).get(pkey) if pkey else None
            # stringify pv: a NULL partition value (None) must sort
            # against real string values in the multiset comparison
            sig.append((repr(pv), a["rows"], s["min"], s["max"]))
        return sorted(sig)

    base = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("p")
    )
    # --- unpartitioned exact 200-row sorted chunks -------------------
    old_t = TransactionLog(tmp_path / "old")
    old_t.append(
        base.drop("o_orderstatus").orderBy("o_orderkey").coalesce(1),
        max_records_per_file=200,
    )
    new_t = TransactionLog(tmp_path / "new")
    new_t.append(
        exact_file_chunks(
            base.drop("o_orderstatus"), ["o_orderkey"], 200, num_partitions=7
        ),
        max_records_per_file=200,
    )
    assert layout_sig(new_t) == layout_sig(old_t)
    pred = "o_orderkey BETWEEN 100 AND 400"
    assert len(new_t.matching_files(pred)) == len(old_t.matching_files(pred))
    a = old_t.snapshot(spark, where=pred).agg(
        F.count("*"), F.round(F.sum("p"), 2)
    ).collect()
    b = new_t.snapshot(spark, where=pred).agg(
        F.count("*"), F.round(F.sum("p"), 2)
    ).collect()
    assert a == b
    # --- hive-partitioned: per-status rank restarts ------------------
    old_p = TransactionLog(tmp_path / "old_p")
    old_p.append(
        base.orderBy("o_orderkey").coalesce(1),
        ["o_orderstatus"],
        max_records_per_file=200,
    )
    new_p = TransactionLog(tmp_path / "new_p")
    new_p.append(
        exact_file_chunks(
            base, ["o_orderkey"], 200,
            partition_keys=["o_orderstatus"], num_partitions=7,
        ),
        ["o_orderstatus"],
        max_records_per_file=200,
    )
    assert layout_sig(new_p, "o_orderstatus") == layout_sig(
        old_p, "o_orderstatus"
    )
    # --- NULL partition key (ADVICE r11): rows with a NULL key go to
    # __HIVE_DEFAULT_PARTITION__, exactly like the coalesce(1) form —
    # the offsets join is null-safe, so none are dropped
    null_base = base.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ),
    )
    old_n = TransactionLog(tmp_path / "old_n")
    old_n.append(
        null_base.orderBy("o_orderkey").coalesce(1),
        ["o_orderstatus"],
        max_records_per_file=200,
    )
    new_n = TransactionLog(tmp_path / "new_n")
    new_n.append(
        exact_file_chunks(
            null_base, ["o_orderkey"], 200,
            partition_keys=["o_orderstatus"], num_partitions=7,
        ),
        ["o_orderstatus"],
        max_records_per_file=200,
    )
    assert layout_sig(new_n, "o_orderstatus") == layout_sig(
        old_n, "o_orderstatus"
    )
    assert (
        new_n.snapshot(spark).count()
        == old_n.snapshot(spark).count()
        == null_base.count()
    )
    spark.catalog.clearCache()


def test_global_ordered_scan_running_sum_matches_window(spark):
    """global_ordered_scan's distributed running sum equals the
    single-task window form (integer values: exact at any summation
    order), including under a DESC sort expression."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        global_ordered_scan,
    )

    df = (
        spark.range(500)
        .withColumn("key", F.expr("xxhash64(id)"))
        .withColumn("v", (F.col("id") % 97).cast("long"))
    )
    order = [F.col("key").desc(), F.col("id")]
    w = Window.orderBy(F.col("key").desc(), F.col("id"))
    expected = {
        r.id: (r.rn, r.cum)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("cum"),
        ).collect()
    }
    got = {
        r.id: (r.rn, r.cum)
        for r in global_ordered_scan(
            df, order, rn_out="rn", cumsum={"cum": "v"}, num_partitions=7
        ).collect()
    }
    assert got == expected
    spark.catalog.clearCache()


@pytest.mark.slow
def test_global_ordered_scan_cache_lifecycle(spark):
    """r10 VERDICT #2 / ADVICE: the default cache mode must not leak
    one session-lifetime cache entry per call.  With
    cache='checkpoint' the materialized blocks are owned by the
    returned frame — N successive exact_ntile calls drain to ≤1
    cached RDD once the frames are dropped (ContextCleaner on GC),
    with no clearCache() discipline.  cache='persist' keeps the old
    caller-cleans contract."""
    import gc
    import time

    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        exact_ntile,
        global_ordered_scan,
    )

    sc = spark.sparkContext

    def n_cached() -> int:
        return sc._jsc.getPersistentRDDs().size()

    def drain(floor: int) -> int:
        deadline = time.time() + 30
        while time.time() < deadline and n_cached() > floor:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.25)
        return n_cached()

    # settle the SHARED session first: earlier tests' GC-able blocks
    # would otherwise inflate the baseline and then vanish mid-test
    spark.catalog.clearCache()
    base = drain(0)
    df = spark.range(2000).withColumn("v", (F.col("id") % 97).cast("long"))
    for _ in range(4):
        out = exact_ntile(df, ["v", "id"], 5)
        assert out.count() == 2000
        del out
    # drain: ContextCleaner unpersists on JVM GC of the dropped frames
    assert drain(base + 1) <= base + 1, n_cached()

    # persist mode: the entry is pinned by the SQL CacheManager, so it
    # SURVIVES GC after the frame is dropped (the documented caller-
    # cleans contract) until an explicit clearCache
    out = global_ordered_scan(df, ["id"], rn_out="rn", cache="persist")
    out.count()
    del out
    assert drain(base + 1) == base + 1
    for _ in range(3):  # a few MORE GC cycles: the pinned entry stays
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.2)
    assert n_cached() >= base + 1, "persist entry should survive GC"
    spark.catalog.clearCache()
    assert drain(base) <= base

    import pytest as _pytest

    with _pytest.raises(ValueError, match="cache"):
        global_ordered_scan(df, ["id"], rn_out="rn", cache="bogus")


def test_hilbert_key_matches_reference_and_is_bijective(spark):
    """add_hilbert_key equals the standard xy2d reference loop on the
    full 32x32 grid, is a bijection onto [0, n^2), and consecutive
    curve positions are always grid-adjacent (the locality property
    z-order lacks — Z jumps; Hilbert never does)."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        add_hilbert_key,
    )

    bits, n = 5, 32

    def ref(x: int, y: int) -> int:
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("gx"), (F.col("id") / n).cast("long").alias("gy")
    )
    got = {
        (r.gx, r.gy): r.hkey
        for r in add_hilbert_key(grid, "gx", "gy", bits).collect()
    }
    assert len(got) == n * n
    for (x, y), d in got.items():
        assert d == ref(x, y), (x, y, d, ref(x, y))
    assert sorted(got.values()) == list(range(n * n))  # bijection
    by_d = {d: xy for xy, d in got.items()}
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (
            f"curve jump at d={d}: {(x1, y1)} -> {(x2, y2)}"
        )


@pytest.mark.slow
def test_nearest_lists_kernel_matches_sql_form(spark):
    """The Arrow/NumPy nearest-centroid kernels behind _nearest_lists
    must be BIT-identical to the SQL form they replaced (broadcast
    cross join + in-order cosine folds + max_by / per-id window) on
    real embeddings — same fold order, same lowest-label tiebreak."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        _nearest_lists,
        dot_expr,
        label_centroids,
        norm_expr,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = label_centroids(df, "embedding", "label").select(
        F.col("label").alias("list_label"), "centroid"
    )
    base = df.select("vec_id", "embedding")
    # the pre-r12 SQL form, reconstructed verbatim
    cents_n = F.broadcast(
        cents.withColumn("_cn", F.expr(norm_expr("centroid")))
    )
    scored = (
        base.withColumn("_vn", F.expr(norm_expr("embedding")))
        .crossJoin(cents_n)
        .withColumn(
            "cos_c",
            F.expr(f"({dot_expr('embedding', 'centroid')}) / (_vn * _cn)"),
        )
    )
    lbl_rank = Window.orderBy(F.col("list_label").asc())
    ranked = cents_n.withColumn("_lrk", F.row_number().over(lbl_rank))
    scored1 = scored.join(
        F.broadcast(ranked.select("list_label", "_lrk")), "list_label"
    )
    ord_ = F.struct(F.col("cos_c"), (-F.col("_lrk")).alias("_nl"))
    old1 = (
        scored1.groupBy("vec_id")
        .agg(F.max_by(F.struct(F.col("list_label")), ord_).alias("_m"))
        .select("vec_id", F.col("_m.list_label"))
    )
    new1 = _nearest_lists(base, cents, "vec_id", "embedding", 1).select(
        "vec_id", "list_label"
    )
    assert old1.count() == new1.count() == df.count()
    assert (
        old1.alias("o")
        .join(new1.alias("n"), "vec_id")
        .filter("o.list_label <> n.list_label")
        .count()
        == 0
    )
    # keep > 1: the probe-selection window form
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_c").desc(), F.col("list_label").asc()
    )
    old3 = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("vec_id", "list_label")
    )
    new3 = _nearest_lists(base, cents, "vec_id", "embedding", 3).select(
        "vec_id", "list_label"
    )
    assert old3.exceptAll(new3).count() == 0
    assert new3.exceptAll(old3).count() == 0


@pytest.mark.slow
def test_argmax_centroid_kernel_matches_sql_form(spark):
    """_argmax_centroid's kernels (flat and probe-pruned/grouped) must
    reproduce the former broadcast-join + max_by SQL reduction bit for
    bit, including the UNROUNDED cos_c the SemDeDup keep rule consumes."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.similarity import (
        _argmax_centroid,
        dot_expr,
        kmeans_centroids,
        kmeans_centroids_grouped,
        norm_expr,
    )

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = df.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
    ).withColumn("_vn", F.expr(norm_expr("_v")))
    coarse = kmeans_centroids(df, "vec_id", "embedding", k=4, iters=2)

    def sql_argmax(sdf, cents, cid_col, join_col=None):
        cents = cents.withColumn("_cn", F.expr(norm_expr("centroid")))
        if join_col is not None:
            scored = sdf.join(F.broadcast(cents), join_col)
        else:
            scored = sdf.crossJoin(F.broadcast(cents))
        scored = scored.withColumn(
            "cos_c", F.expr(f"({dot_expr('_v', 'centroid')}) / (_vn * _cn)")
        )
        extra = [join_col] if join_col is not None else []
        ord_ = F.struct(F.col("cos_c"), (-F.col(cid_col)).alias("_nc"))
        payload = F.struct(
            F.col(cid_col), F.col("cos_c"), *[F.col(c) for c in extra]
        )
        return (
            scored.groupBy("_id")
            .agg(F.max_by(payload, ord_).alias("_m"))
            .select(
                "_id",
                F.col(f"_m.{cid_col}").alias(cid_col),
                F.col("_m.cos_c").alias("cos_c"),
            )
        )

    old_flat = sql_argmax(base, coarse, "cid")
    new_flat = _argmax_centroid(base, coarse, "cid").select(
        "_id", "cid", "cos_c"
    )
    joined = old_flat.alias("o").join(new_flat.alias("n"), "_id")
    assert joined.count() == df.count()
    assert (
        joined.filter(
            "o.cid <> n.cid OR o.cos_c IS DISTINCT FROM n.cos_c"
        ).count()
        == 0
    )
    # grouped (probe-pruned fine level)
    casg = _argmax_centroid(base, coarse, "cid").select(
        "_id", "_v", "_vn", F.col("cid").alias("ccid")
    )
    fine = kmeans_centroids_grouped(
        casg, "ccid", "_id", "_v", k=3, iters=2,
        fallback=coarse.select(F.col("cid").alias("ccid"), "centroid"),
    )
    old_g = sql_argmax(casg, fine, "scid", join_col="ccid")
    new_g = _argmax_centroid(casg, fine, "scid", join_col="ccid").select(
        "_id", "scid", "cos_c"
    )
    jg = old_g.alias("o").join(new_g.alias("n"), "_id")
    assert jg.count() == casg.count()
    assert (
        jg.filter(
            "o.scid <> n.scid OR o.cos_c IS DISTINCT FROM n.cos_c"
        ).count()
        == 0
    )


@pytest.mark.slow
def test_global_ordered_scan_releases_blocks(spark):
    """Lifecycle regression: each call leaves at most one persistent
    RDD (its localCheckpoint), and those blocks must drain under the
    ContextCleaner once the frame is garbage-collected — the GC-owned
    contract the helper documents."""
    import gc
    import time

    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.layout import (
        global_row_number,
    )

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def settle(target: int, tries: int = 45) -> int:
        # ContextCleaner drains weak-ref'd RDDs asynchronously
        for _ in range(tries):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if n_persistent() <= target:
                break
            time.sleep(1.0)
        return n_persistent()

    base = settle(0)
    # one frame at a time: the helper's contract is per-frame (each
    # call leaves exactly one GC-owned checkpoint).  Deliberately NOT
    # several simultaneously-live frames — a probe showed that three
    # checkpoints dropped in one GC pass drain only lazily on this
    # JVM/py4j stack EVEN FOR THE PRE-r12 INLINE SHAPE, i.e. that is a
    # multi-object GC-timing artifact, not a property of this operator.
    for i in range(2):
        src = spark.range(10_000 + i).select(
            (F.col("id") % 997).alias("k"), F.col("id").alias("uid")
        )
        f = global_row_number(src, ["k", "uid"], out="rn")
        # keep the count OUT of the assert expression: pytest's
        # assertion rewriting stores the bound method (`f.count`) in a
        # frame temporary, which keeps the frame referenced past `del`
        cnt = f.count()
        assert cnt == 10_000 + i
        # only this call's checkpoint may remain
        assert n_persistent() <= base + 1, (
            f"extra persistent RDDs: {n_persistent()} "
            f"(baseline {base}, expected <= {base + 1})"
        )
        del f, src
        drained = settle(base)
        assert drained <= base, (
            f"checkpoint blocks did not drain: {drained} persistent "
            f"RDDs remain (baseline {base})"
        )
