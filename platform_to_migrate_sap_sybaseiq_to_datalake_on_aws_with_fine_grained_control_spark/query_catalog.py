"""Named query/operator catalog — the oracle-checked surface.

Every entry pairs a Spark implementation (DataFrame API or Spark SQL)
with an equivalent DuckDB oracle SQL string; the driver runs both at
sf0.01 and compares row count + schema + order-insensitive value hash
(see ``__spark_entry__.py``).  Entries map 1:1 onto SURVEY.md §2's
operator inventory; reference citations in each docstring.

Determinism rules used throughout:

* every floating-point aggregate is ``round``-ed (both engines round
  doubles via shortest-decimal-repr half-up, verified empirically), so
  accumulation-order noise never reaches the hash;
* every LIMIT sits under a total order (unique tiebreak column);
* DuckDB type quirks are normalized (``sum(BIGINT)`` → HUGEINT and
  ``year()`` → BIGINT get explicit casts);
* event-time outputs are truncated/stringified — DuckDB reads the ns
  timestamps of ``events.parquet`` at full precision while Spark reads
  µs, so raw ``ts`` never appears in an output column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cleaning import (
    add_audit_columns,
    add_date_parts,
    normalize_column_names,
    trim_string_columns,
)
from .operators.layout import coalesce_tier
from .functions.temporal import epoch_us
from .plans.dialect import to_spark_sql
from .sources.registry import TESTDATA_TABLES, load_table, ranged_scan, register_parquet_views

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class CatalogEntry:
    name: str
    fn: QueryFn
    #: DuckDB SQL; None => rows-only check.  A zero-arg CALLABLE defers
    #: the text build to first access (catalog()/oracle_sql(), resolved
    #: once and cached back) — for oracles that embed ANOTHER catalog
    #: module's SQL: building those at registration time re-enters the
    #: partially-initialized sibling whenever a catalog module is
    #: imported directly (the SURVEY r8 import-cycle class).
    oracle: str | None | Callable[[], str]
    doc: str = ""

    def resolved_oracle(self) -> str | None:
        if callable(self.oracle):
            self.oracle = self.oracle()
        return self.oracle


_CATALOG: dict[str, CatalogEntry] = {}


def _guard_new_name(name: str) -> None:
    """Refuse duplicate registrations.  A second ``register``/``sql_query``
    with an existing name would silently SHADOW the first (last import
    wins), so the served implementation would depend on module import
    order — exactly how a new entry landed dead-on-arrival once (an
    ``events_cusum_changepoint`` re-registration in a later-imported
    module overwrote it).  Fail loudly at import time instead."""
    if name in _CATALOG:
        raise ValueError(
            f"catalog entry {name!r} is already registered — duplicate "
            "names silently shadow by import order; pick a new name"
        )


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        _guard_new_name(name)
        _CATALOG[name] = CatalogEntry(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def catalog() -> dict[str, CatalogEntry]:
    out = dict(_CATALOG)
    for e in out.values():
        e.resolved_oracle()  # lazy builders resolve once, post-import
    return out


def queries() -> dict[str, QueryFn]:
    return {name: e.fn for name, e in _CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: e.resolved_oracle()
        for name, e in _CATALOG.items()
        if e.oracle is not None
    }


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run SQL against the testdata views (registered idempotently)."""
    register_parquet_views(spark, sf_dir, TESTDATA_TABLES)
    return spark.sql(text)


def sql_query(name: str, spark_text: str, oracle_text: str | None = None, doc: str = ""):
    """Register a query whose Spark and DuckDB forms are both plain SQL
    (often the identical string — both engines speak the ANSI core)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        text = spark_text() if callable(spark_text) else spark_text
        return _sql(spark, sf_dir, text)

    fn.__name__ = f"q_{name}"
    fn.__doc__ = doc
    _guard_new_name(name)
    _CATALOG[name] = CatalogEntry(
        name=name, fn=fn, oracle=oracle_text if oracle_text is not None else spark_text, doc=doc
    )
    return fn


# =====================================================================
# §2.1 Scans / sources
# =====================================================================


@register(
    "s1_ranged_partition_scan",
    "SELECT * FROM lineitem WHERE l_orderkey BETWEEN 100 AND 600",
    doc="S1 partitioned ranged scan — native analog of the partitioned JDBC "
    "read (sybaseiq_extractor.py:283-293): bound predicate pushed into the "
    "parquet scan + repartitionByRange for the N-split layout.",
)
def s1_ranged_partition_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return ranged_scan(df, "l_orderkey", 100, 600, num_partitions=8)


@register(
    "s2_query_pushdown",
    "SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag "
    "FROM lineitem WHERE l_orderkey <= 4997",
    doc="S2 free-form Query execution with Sybase dialect rewrite "
    "([bracket] identifiers, three-part names — README.md:31, "
    "sybaseiq_extractor.py:314-320).",
)
def s2_query_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_parquet_views(spark, sf_dir, ["lineitem"])
    q = (
        "SELECT [l_orderkey], [l_linenumber], [l_extendedprice], [l_returnflag] "
        "FROM iqdemo.dba.lineitem WHERE [l_orderkey] <= 4997"
    )
    return spark.sql(to_spark_sql(q, {"lineitem": "lineitem"}))


sql_query(
    "p1_filter_date_between",
    "SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem "
    "WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'",
    doc="P1 predicate pushdown on a date range (example2-postgre.json:10 "
    "BETWEEN semantics); Catalyst pushes the range into the parquet scan.",
)


# =====================================================================
# §2.2 Cleaning pipeline P2-P6
# =====================================================================


@register(
    "p2_normalize_identifiers",
    "SELECT l_orderkey AS row_id, l_linenumber AS line_number, "
    "l_returnflag AS return_flag, l_extendedprice AS sales_ FROM lineitem",
    doc="P2 identifier normalization: lower/strip + non-alnum -> '_' "
    "(fix_col_names, sybaseiq_extractor.py:114-115) applied to messy "
    "source-style names ('Row ID', 'Sales$' — README.md:31).",
)
def p2_normalize_identifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("Row ID"),
        F.col("l_linenumber").alias(" Line-Number "),
        F.col("l_returnflag").alias("Return Flag"),
        F.col("l_extendedprice").alias("Sales$"),
    )
    return normalize_column_names(df)


@register(
    "p3_trim_strings",
    "SELECT l_orderkey, l_linenumber, "
    "trim(concat('  ', l_returnflag, '   ')) AS flag, "
    "trim(concat(l_linestatus, ' ')) AS status FROM lineitem",
    doc="P3 trim-all-string-columns (ltrim+rtrim, "
    "sybaseiq_extractor.py:97-111) over deliberately padded values.",
)
def p3_trim_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.concat(F.lit("  "), F.col("l_returnflag"), F.lit("   ")).alias("flag"),
        F.concat(F.col("l_linestatus"), F.lit(" ")).alias("status"),
    )
    return trim_string_columns(df)


@register(
    "p4_audit_columns",
    "SELECT o_orderkey, o_custkey, "
    "TIMESTAMP '2024-01-15 12:00:00' AS migration_tp_utc, "
    '\'cafebabe\' AS "migration_ExecutionHashId" FROM orders',
    doc="P4 audit-column append: constant load timestamp + lineage hash on "
    "every row (sybaseiq_extractor.py:42,124-125); fixed literals here so "
    "the oracle comparison is deterministic.",
)
def p4_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return add_audit_columns(df, "cafebabe", datetime(2024, 1, 15, 12, 0, 0))


@register(
    "p5_date_parts",
    "SELECT l_orderkey, l_linenumber, "
    "CAST(year(l_shipdate) AS VARCHAR) AS year, "
    "CAST(month(l_shipdate) AS VARCHAR) AS month, "
    "CAST(day(l_shipdate) AS VARCHAR) AS day FROM lineitem",
    doc="P5 unpadded year/month/day derivation via date_format y/M/d "
    "(sybaseiq_extractor.py:171-174) — 'month=3', never '03'.",
)
def p5_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    return add_date_parts(df, "l_shipdate").drop("l_shipdate")


@register(
    "p6_clean_pipeline_composite",
    "SELECT l_orderkey AS row_id, "
    "trim(concat('  ', l_returnflag, ' ')) AS return_flag, l_shipdate AS ship_date, "
    "CAST(year(l_shipdate) AS VARCHAR) AS year, "
    "CAST(month(l_shipdate) AS VARCHAR) AS month, "
    "CAST(day(l_shipdate) AS VARCHAR) AS day, "
    "TIMESTAMP '2024-02-02 00:00:00' AS migration_tp_utc, "
    '\'feedface\' AS "migration_ExecutionHashId" FROM lineitem WHERE l_linenumber = 1',
    doc="P2+P3+P4+P5 composed in reference order (save_to_s3, "
    "sybaseiq_extractor.py:118-231): rename -> date parts -> audit -> trim.",
)
def p6_clean_pipeline_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select(
            F.col("l_orderkey").alias("Row ID"),
            F.concat(F.lit("  "), F.col("l_returnflag"), F.lit(" ")).alias("Return-Flag"),
            F.col("l_shipdate").alias("Ship Date"),
        )
    )
    out = normalize_column_names(df)
    out = add_date_parts(out, "ship_date")
    out = add_audit_columns(out, "feedface", datetime(2024, 2, 2, 0, 0, 0))
    return trim_string_columns(out)


# =====================================================================
# §2.3 Aggregations A1-A3  +  §2.4 R1
# =====================================================================

sql_query(
    "a1_count_rows",
    "SELECT count(*) AS n_rows FROM lineitem",
    doc="A1 validation count (cache+count in the reference, "
    "sybaseiq_extractor.py:295-297; here a single agg — no cache needed).",
)

sql_query(
    "a2_distinct_partition_values",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="A2 distinct partition-value enumeration "
    "(sybaseiq_extractor.py:189,220 commented overwrite path).",
)

sql_query(
    "a3_reconcile_tristate",
    "WITH c AS (SELECT count(*) AS n FROM lineitem), "
    "e AS (SELECT ' ' AS expected UNION ALL SELECT '123' "
    "      UNION ALL SELECT CAST(n AS STRING) FROM c) "
    "SELECT expected, CASE WHEN trim(expected) = '' THEN 'skipped' "
    "WHEN CAST(expected AS BIGINT) = (SELECT n FROM c) THEN 'ok' "
    "ELSE 'mismatch' END AS status FROM e",
    doc="A3 tri-state count reconciliation (skipped / ok / mismatch — "
    "postprocess/lambda_function.py:76-98) exercised over all three branches.",
)


@register(
    "r1_coalesce_tiers",
    "SELECT n_records, CASE WHEN n_records < 50000000 THEN 8 "
    "WHEN n_records < 100000000 THEN 16 ELSE 24 END AS n_files "
    "FROM (VALUES (CAST(1000 AS BIGINT)), (49999999), (50000000), "
    "(99999999), (100000000), (250000000)) AS v(n_records)",
    doc="R1 size-tiered coalesce thresholds (sybaseiq_extractor.py:149-154); "
    "Spark side runs the actual Python tier function.",
)
def r1_coalesce_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [(n, coalesce_tier(n)) for n in (1000, 49_999_999, 50_000_000, 99_999_999, 100_000_000, 250_000_000)]
    return spark.createDataFrame(rows, "n_records BIGINT, n_files INT")


# =====================================================================
# The relational surface implied by the plan `Query` field (SURVEY §2.3
# note): joins, aggregation, windows, set ops, sorts — executed natively
# by Spark SQL in the new engine.
# =====================================================================

sql_query(
    "q1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
    "round(avg(l_quantity), 4) AS avg_qty, "
    "round(avg(l_extendedprice), 4) AS avg_price, "
    "round(avg(l_discount), 4) AS avg_disc, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus",
    doc="TPC-H Q1-style pricing summary — the canonical groupBy+multi-agg "
    "a reference user would put in the Query field.",
)

sql_query(
    "q3_shipping_priority",
    "SELECT l_orderkey, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "o_orderdate, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1997-03-15' "
    "AND l_shipdate > '1997-03-15' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    doc="TPC-H Q3-style 3-way join + agg + deterministic top-10 "
    "(revenue ties broken by l_orderkey).",
)

sql_query(
    "q5_region_revenue",
    "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM customer "
    "JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= '1995-01-01' "
    "AND o_orderdate < '1997-01-01' "
    "GROUP BY n_name",
    doc="TPC-H Q5-style 6-way join; small dims broadcast by Catalyst/AQE.",
)

sql_query(
    "groupby_multi_agg",
    "SELECT o_orderpriority, count(*) AS n_orders, "
    "count(DISTINCT o_custkey) AS n_customers, "
    "round(sum(o_totalprice), 2) AS sum_price, "
    "round(avg(o_totalprice), 4) AS avg_price, "
    "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price "
    "FROM orders GROUP BY o_orderpriority",
    doc="Multi-aggregate groupBy incl. exact distinct count.",
)

sql_query(
    "window_topk_per_group",
    "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
    "SELECT o_custkey, o_orderkey, o_totalprice, "
    "CAST(row_number() OVER (PARTITION BY o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn FROM orders) t "
    "WHERE rn <= 3",
    doc="Top-K per group via ranked window (deterministic tiebreak).",
)

sql_query(
    "window_running_total",
    "SELECT o_custkey, o_orderkey, "
    "round(sum(o_totalprice) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend "
    "FROM orders",
    doc="Running aggregate window over a unique total order.",
)

sql_query(
    "window_lag_delta",
    "SELECT o_custkey, o_orderkey, "
    "round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev FROM orders",
    doc="lag() offset window; first row per group yields NULL in both engines.",
)


@register(
    "semi_join_customers_with_orders",
    "SELECT c_custkey, c_name FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    doc="EXISTS as left-semi join (Spark API form; Catalyst broadcasts).",
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "anti_join_customers_without_orders",
    "SELECT c_custkey, c_name FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    doc="NOT EXISTS as left-anti join (Spark API form).",
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


sql_query(
    "left_join_order_counts",
    "SELECT c_custkey, count(o_orderkey) AS n_orders "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_custkey",
    doc="Outer join with null-tolerant count.",
)

sql_query(
    "set_ops_union_except",
    "(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' "
    "UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000) "
    "EXCEPT SELECT c_custkey FROM customer WHERE c_nationkey < 5",
    doc="UNION / EXCEPT set operators.",
)

sql_query(
    "set_ops_intersect",
    "SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F' "
    "INTERSECT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'",
    doc="INTERSECT set operator.",
)


@register(
    "sort_limit_topk",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    doc="Global top-K — Spark plans TakeOrderedAndProject (no full sort).",
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "pivot_status_by_priority",
    "SELECT o_orderpriority, "
    "round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f, "
    "round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o, "
    "round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p "
    "FROM orders GROUP BY o_orderpriority",
    doc="Pivot via Spark's pivot() API; oracle uses conditional aggregation.",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return df.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


sql_query(
    "rollup_qty_by_flag_status",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "round(sum(l_quantity), 2) AS qty "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    doc="ROLLUP grouping sets (subtotals + grand total).",
)

sql_query(
    "cube_qty_by_flag_status",
    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
    "round(sum(l_quantity), 2) AS qty "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
    doc="CUBE grouping sets.",
)

sql_query(
    "scalar_functions_sampler",
    "SELECT l_orderkey, l_linenumber, "
    "upper(l_returnflag) AS flag_u, lower(l_linestatus) AS status_l, "
    "substr(l_returnflag, 1, 1) AS first_ch, "
    "length(concat(l_returnflag, '-', l_linestatus)) AS len_cat, "
    "round(abs(l_discount - 0.05), 4) AS abs_disc, "
    "CAST(floor(l_quantity) AS BIGINT) AS qty_floor, "
    "CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_k, "
    "l_orderkey % 7 AS key_mod, "
    "coalesce(nullif(l_returnflag, 'N'), 'X') AS flag_or_x "
    "FROM lineitem WHERE l_orderkey <= 1000",
    doc="Scalar string/math/conditional function surface.",
)

sql_query(
    "case_when_bucketing",
    "SELECT CASE WHEN l_quantity < 10 THEN 'low' "
    "WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band, "
    "count(*) AS n, round(sum(l_extendedprice), 2) AS total "
    "FROM lineitem GROUP BY 1",
    doc="CASE WHEN bucketing + aggregation.",
)

sql_query(
    "exists_in_subquery",
    "SELECT p_partkey, p_name FROM part "
    "WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)",
    doc="IN-subquery (decorrelated to semi join by Catalyst).",
)

sql_query(
    "correlated_scalar_subquery",
    "SELECT c_custkey, c_acctbal, "
    "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders "
    "FROM customer c WHERE c_custkey <= 300",
    doc="Correlated scalar subquery (decorrelated to aggregate+join).",
)


# =====================================================================
# events: temporal / streaming-adjacent batch queries
# =====================================================================

sql_query(
    "events_tumbling_window",
    "SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS window_start, "
    "event_type, count(*) AS n_events, round(sum(value), 2) AS total_value "
    "FROM (SELECT window(ts, '5 minutes') AS window, event_type, value FROM events) "
    "GROUP BY 1, 2",
    "SELECT strftime(make_timestamp(CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 * 1000000), "
    "'%Y-%m-%d %H:%M:%S') AS window_start, "
    "event_type, count(*) AS n_events, round(sum(value), 2) AS total_value "
    "FROM events GROUP BY 1, 2",
    doc="Tumbling 5-minute window aggregation (batch form of the M5 "
    "streaming analog); window start stringified for cross-engine parity.",
)

sql_query(
    "events_json_extract",
    "SELECT event_id, event_type, get_json_object(props, '$.k') AS k FROM events",
    "SELECT event_id, event_type, json_extract_string(props, '$.k') AS k FROM events",
    doc="Semi-structured JSON field extraction from the props payload.",
)

_SESSIONIZE_TMPL = (
    "WITH o AS (SELECT user_id, event_id, {epoch} AS es, "
    "lag({epoch}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es "
    "FROM events), "
    "m AS (SELECT user_id, event_id, CASE WHEN prev_es IS NULL "
    "OR es - prev_es > 1800 THEN 1 ELSE 0 END AS is_new FROM o) "
    "SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, "
    "count(*) AS n_events FROM m GROUP BY user_id"
)

sql_query(
    "events_sessionize",
    # NTZ-safe: ts arrives as TIMESTAMP_NTZ from naive parquet, and
    # NTZ->DOUBLE is an illegal cast in Spark 4; unix_micros over an
    # explicit TIMESTAMP cast is value-preserving under the UTC session
    # TZ and keeps microsecond precision like DuckDB's epoch(ts).
    _SESSIONIZE_TMPL.format(epoch="(unix_micros(CAST(ts AS TIMESTAMP)) / 1000000.0)"),
    _SESSIONIZE_TMPL.format(epoch="epoch(ts)"),
    doc="Gaps-and-islands sessionization (30-min inactivity gap) — batch "
    "equivalent of session_window; lag + conditional cumsum.",
)


# ---------------------------------------------------------------------
# Training-data-pipeline entries (dedup / similarity / text analysis)
# register themselves into the same catalog on import.
# ---------------------------------------------------------------------
from . import query_catalog_ml  # noqa: E402,F401  (registration side effect)

# ---------------------------------------------------------------------
# Additional relational + temporal surface (round-1 widening)
# ---------------------------------------------------------------------

sql_query(
    "date_arithmetic_sampler",
    "SELECT l_orderkey, l_linenumber, "
    "date_format(l_shipdate + INTERVAL 30 DAY, 'yyyy-MM-dd') AS ship_plus_30d, "
    "date_format(date_trunc('month', l_shipdate), 'yyyy-MM-dd') AS ship_month, "
    "CAST(datediff(CAST(l_shipdate AS DATE), DATE '1995-01-01') AS BIGINT) AS days_since_95, "
    "CAST(dayofweek(l_shipdate) AS BIGINT) AS dow "
    "FROM lineitem WHERE l_orderkey <= 500",
    "SELECT l_orderkey, l_linenumber, "
    "strftime(l_shipdate + INTERVAL 30 DAY, '%Y-%m-%d') AS ship_plus_30d, "
    "strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS ship_month, "
    "CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS days_since_95, "
    "CAST(dayofweek(l_shipdate) + 1 AS BIGINT) AS dow "
    "FROM lineitem WHERE l_orderkey <= 500",
    doc="Date arithmetic surface: interval add, month truncation, day "
    "diff, day-of-week (Spark is 1=Sunday, DuckDB 0=Sunday — oracle "
    "shifts by one).",
)

sql_query(
    "percentile_stats",
    "SELECT o_orderpriority, "
    "round(percentile(o_totalprice, 0.5), 4) AS p50, "
    "round(percentile(o_totalprice, 0.9), 4) AS p90 "
    "FROM orders GROUP BY o_orderpriority",
    "SELECT o_orderpriority, "
    "round(quantile_cont(o_totalprice, 0.5), 4) AS p50, "
    "round(quantile_cont(o_totalprice, 0.9), 4) AS p90 "
    "FROM orders GROUP BY o_orderpriority",
    doc="Exact interpolated percentiles (percentile / quantile_cont — "
    "same linear-interpolation definition in both engines).",
)

sql_query(
    "events_sliding_window",
    "SELECT date_format(window.start, 'yyyy-MM-dd HH:mm:ss') AS window_start, "
    "event_type, count(*) AS n_events "
    "FROM (SELECT window(ts, '10 minutes', '5 minutes') AS window, event_type FROM events) "
    "GROUP BY 1, 2",
    "WITH w AS (SELECT event_type, "
    "unnest([CAST(floor(epoch(ts) / 300) AS BIGINT) * 300, "
    "        CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 - 300]) AS ws FROM events) "
    "SELECT strftime(make_timestamp(ws * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start, "
    "event_type, count(*) AS n_events FROM w GROUP BY 1, 2",
    doc="Sliding window (10 min window / 5 min slide): each event in "
    "exactly two windows; oracle enumerates both starts explicitly.",
)

sql_query(
    "events_session_window",
    "SELECT user_id, "
    "date_format(session_window.start, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_start, "
    "date_format(session_window.end, 'yyyy-MM-dd HH:mm:ss.SSSSSS') AS session_end, "
    "count(*) AS n_events "
    "FROM (SELECT session_window(ts, '30 minutes') AS session_window, user_id FROM events) "
    "GROUP BY user_id, session_window",
    "WITH o AS (SELECT user_id, ts, "
    "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL "
    "OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800 "
    "THEN 1 ELSE 0 END AS is_new FROM events), "
    "s AS (SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM o) "
    "SELECT user_id, "
    "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start, "
    "strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end, "
    "count(*) AS n_events FROM s GROUP BY user_id, sid",
    doc="Batch session_window (30-min gap) vs gaps-and-islands oracle: "
    "session end = last event + gap, microsecond-stringified.",
)


@register(
    "approx_count_distinct_users",
    # HLL++ sketch values differ across engines, but the error
    # guarantee is checkable: emit "approx within 3 relative standard
    # deviations of the exact distinct count" per group; the oracle
    # asserts the same boolean, so a hash match proves the sketch
    # honored its accuracy contract — a true value check.
    "SELECT event_type, CAST(1 AS BOOLEAN) AS within_bound "
    "FROM events GROUP BY event_type",
    doc="approx_count_distinct (HyperLogLog++, rsd 0.02) per event_type "
    "— the mergeable-sketch path for 100 TB distinct counts. Output "
    "encodes the accuracy contract as a boolean: |approx - exact| <= "
    "3 * rsd * exact (HLL error is deterministic for fixed input, so "
    "this is stable across runs).",
)
def approx_count_distinct_users(spark, sf_dir):
    from .sources.registry import load_table as _lt

    rsd = 0.02
    ev = _lt(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "event_type",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 3 * rsd * F.col("exact_users")
        ).alias("within_bound"),
    )

@register(
    "approx_quantiles_value",
    # Sketch values themselves differ across engines, but the GK
    # guarantee (rank error <= max(1, eps*N)) is checkable: emit
    # "approx lies between the exact (q-delta) and (q+delta)
    # percentiles" booleans Spark-side; the oracle asserts the same
    # booleans are true per group, so a hash match proves the sketch
    # honored its error bound — a true value check, not rows-only.
    "SELECT event_type, CAST(1 AS BOOLEAN) AS q50_ok, "
    "CAST(1 AS BOOLEAN) AS q90_ok, CAST(1 AS BOOLEAN) AS q99_ok "
    "FROM events GROUP BY event_type",
    doc="Quantile sketch (Greenwald-Khanna percentile_approx, accuracy "
    "10000) of event value per type — the single-pass mergeable-sketch "
    "path for 100 TB percentiles (exact percentile_stats is the "
    "oracle-checked twin). Output encodes the GK error bound as "
    "booleans: approx within the exact [q-1%, q+1%] percentile band "
    "(rank slack >> max(1, N/10000) at every test SF).",
)
def approx_quantiles_value(spark, sf_dir):
    from .sources.registry import load_table as _lt

    qs = [0.5, 0.9, 0.99]
    delta = 0.01
    ev = _lt(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", qs, 10000).alias("approx"),
        F.percentile("value", F.array(*[F.lit(max(q - delta, 0.0)) for q in qs])).alias("lo"),
        F.percentile("value", F.array(*[F.lit(min(q + delta, 1.0)) for q in qs])).alias("hi"),
    )
    def ok(i: int):
        a = F.element_at("approx", i + 1)
        return (a >= F.element_at("lo", i + 1)) & (a <= F.element_at("hi", i + 1))
    return agg.select(
        "event_type",
        ok(0).alias("q50_ok"),
        ok(1).alias("q90_ok"),
        ok(2).alias("q99_ok"),
    )


@register(
    "events_rollup_cascade_daily",
    "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
    "event_type, count(*) AS n_events, "
    "round(sum(value), 2) AS total_value, "
    "round(min(value), 2) AS min_value, round(max(value), 2) AS max_value "
    "FROM events GROUP BY 1, 2",
    doc="Hypertable-style continuous-aggregate cascade: the daily grain "
    "is re-aggregated from the HOURLY materialization (sum-of-sums / "
    "min-of-mins — 24 rows per bucket, raw never re-scanned); the "
    "oracle computes daily straight from raw, so a hash match proves "
    "the cascade invariant.",
)
def events_rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import cascade_rollup

    ev = load_table(spark, sf_dir, "events")
    daily = cascade_rollup(ev, "ts", ["event_type"], "value", ("hour", "day"))["day"]
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


sql_query(
    "events_hourly_rollup",
    "SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:00') AS hour, "
    "event_type, count(*) AS n_events, "
    "round(sum(value), 2) AS total_value, "
    "round(min(value), 2) AS min_value, round(max(value), 2) AS max_value, "
    "count(DISTINCT user_id) AS n_users "
    "FROM events GROUP BY 1, 2",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, "
    "event_type, count(*) AS n_events, "
    "round(sum(value), 2) AS total_value, "
    "round(min(value), 2) AS min_value, round(max(value), 2) AS max_value, "
    "count(DISTINCT user_id) AS n_users "
    "FROM events GROUP BY 1, 2",
    doc="Hypertable-style continuous-aggregate rollup: hourly bucket x "
    "type with count/sum/min/max/exact-distinct — the materialized "
    "rollup a time-series store would maintain incrementally.",
)

sql_query(
    "q7_volume_shipping",
    "SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM ("
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    "l_extendedprice * (1 - l_discount) AS volume "
    "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY') "
    "OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE')) "
    ") shipping GROUP BY supp_nation, cust_nation, l_year",
    doc="TPC-H Q7-style bilateral trade volume: self-joined dimension "
    "(nation twice), disjunctive join filter, derived-year grouping.",
)

sql_query(
    "q18_large_volume_customers",
    "SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total, qty FROM ("
    "SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice, "
    "CAST(sum_qty AS DOUBLE) AS qty FROM orders JOIN ("
    "SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem "
    "GROUP BY l_orderkey HAVING sum(l_quantity) > 150) big "
    "ON o_orderkey = big.l_orderkey) t "
    "ORDER BY total DESC, o_orderkey LIMIT 20",
    doc="TPC-H Q18-style: HAVING-filtered aggregate subquery joined "
    "back to orders, deterministic top-20.",
)

sql_query(
    "full_outer_join_balances",
    "SELECT coalesce(a.k, b.k) AS nationkey, a.n_customers, b.n_suppliers FROM "
    "(SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1) a "
    "FULL OUTER JOIN "
    "(SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1) b "
    "ON a.k = b.k",
    doc="Full outer join with null-filling coalesce key.",
)

sql_query(
    "union_all_tagged",
    "SELECT 'customer' AS side, c_custkey AS k FROM customer WHERE c_custkey <= 50 "
    "UNION ALL SELECT 'orders', o_orderkey FROM orders WHERE o_orderkey <= 50",
    doc="UNION ALL with literal tagging (duplicate-preserving).",
)

sql_query(
    "string_functions_sampler",
    "SELECT c_custkey, "
    "lpad(CAST(c_custkey AS STRING), 8, '0') AS id_padded, "
    "rpad(substr(c_name, 1, 6), 10, '.') AS name_padded, "
    "replace(c_name, '#', '-') AS name_dashed, "
    "reverse(c_mktsegment) AS seg_rev, "
    "repeat('ab', 3) AS abab, "
    "instr(c_name, '#') AS hash_pos, "
    "translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels, "
    "split_part(c_name, '#', 1) AS name_head "
    "FROM customer WHERE c_custkey <= 200",
    "SELECT c_custkey, "
    "lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS id_padded, "
    "rpad(substr(c_name, 1, 6), 10, '.') AS name_padded, "
    "replace(c_name, '#', '-') AS name_dashed, "
    "reverse(c_mktsegment) AS seg_rev, "
    "repeat('ab', 3) AS abab, "
    "CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos, "
    "translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_lower_vowels, "
    "split_part(c_name, '#', 1) AS name_head "
    "FROM customer WHERE c_custkey <= 200",
    doc="String function surface: pad/replace/reverse/repeat/locate/"
    "translate/split_part (instr vs strpos type-normalized).",
)

sql_query(
    "array_functions_sampler",
    # line_numbers is emitted as a comma-joined STRING, not ARRAY: the
    # driver's pandas canonicalizer sorts on every output column and a
    # top-level list is unhashable there (r3 red row).
    "SELECT l_orderkey, "
    "array_join(transform(array_sort(collect_list(l_linenumber)), x -> CAST(x AS STRING)), ',') AS line_numbers, "
    "CAST(size(collect_set(l_returnflag)) AS BIGINT) AS n_flags, "
    "round(aggregate(collect_list(l_quantity), CAST(0 AS DOUBLE), (a, x) -> a + x), 2) AS qty_sum "
    "FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey",
    "SELECT l_orderkey, "
    "array_to_string(list_sort(list(l_linenumber ORDER BY l_linenumber)), ',') AS line_numbers, "
    "CAST(len(list_distinct(list(l_returnflag))) AS BIGINT) AS n_flags, "
    "round(list_reduce(list_prepend(CAST(0 AS DOUBLE), list(CAST(l_quantity AS DOUBLE) ORDER BY l_linenumber)), (a, x) -> a + x), 2) AS qty_sum "
    "FROM lineitem WHERE l_orderkey <= 300 GROUP BY l_orderkey",
    doc="Array aggregation surface: sorted collect (joined to a string "
    "for cross-engine canonicalization), distinct-set size, lambda fold "
    "over a collected list (sum fold is order-normalized by the "
    "2-decimal input values).",
)

sql_query(
    "window_frame_functions",
    "SELECT o_custkey, o_orderkey, "
    "round(first_value(o_totalprice) OVER w, 2) AS first_price, "
    "round(last_value(o_totalprice) OVER w, 2) AS last_price, "
    "CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
    doc="Window frame surface: first/last value over an explicit full "
    "frame + ntile quartiles with total-order tiebreaks.",
)

sql_query(
    "q2_min_cost_supplier",
    # floor-scaled (not round): the synthetic cost lands on exact .xx5
    # halves (acctbal/12 etc.), where round() half-tie behavior differs
    # between engines — floor is bit-identical in both
    "SELECT s_suppkey, s_name, p_partkey, floor(ps_cost * 100) / 100 AS cost FROM ("
    "SELECT s.s_suppkey, s.s_name, p.p_partkey, "
    "s.s_acctbal / (1 + p.p_partkey % 100) AS ps_cost, "
    "min(s.s_acctbal / (1 + p.p_partkey % 100)) OVER (PARTITION BY p.p_partkey) AS min_cost "
    "FROM supplier s CROSS JOIN part p WHERE p.p_partkey <= 200) t "
    "WHERE ps_cost = min_cost "
    "ORDER BY p_partkey, s_suppkey",
    doc="TPC-H Q2-style cheapest-supplier-per-part via window min (the "
    "decorrelated form — Spark cannot decorrelate an aggregate mixing "
    "outer and local references, and the window form is the plan "
    "Catalyst would want anyway; synthetic cost, no partsupp table).",
)

sql_query(
    "q10_returned_items",
    "SELECT c_custkey, c_name, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "n_name "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
    doc="TPC-H Q10-style returned-item revenue ranking.",
)

sql_query(
    "q14_promo_share",
    "SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) "
    "/ sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-02-01'",
    doc="TPC-H Q14-style conditional-share aggregate with LIKE-prefix "
    "classification.",
)

sql_query(
    "having_filter_groups",
    "SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend "
    "FROM orders GROUP BY o_custkey "
    "HAVING count(*) >= 5 AND sum(o_totalprice) > 50000",
    doc="HAVING with conjunctive aggregate predicates.",
)

sql_query(
    "stats_corr_covar",
    "SELECT l_returnflag, "
    "round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price, "
    "round(covar_samp(l_quantity, l_discount), 4) AS covar_qty_disc, "
    "round(stddev_samp(l_extendedprice), 2) AS sd_price, "
    "round(var_samp(l_quantity), 4) AS var_qty "
    "FROM lineitem GROUP BY l_returnflag",
    doc="Statistical aggregate surface: Pearson correlation, sample "
    "covariance/variance/stddev (identical definitions both engines; "
    "rounding absorbs accumulation-order noise).",
)

@register(
    "events_asof_attribution",
    """
WITH p AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'purchase'),
v0 AS (SELECT event_id AS view_event_id, user_id, ts FROM events
       WHERE event_type = 'view'),
v AS (SELECT view_event_id, user_id, ts FROM (
  SELECT v0.*, row_number() OVER (PARTITION BY user_id, ts
    ORDER BY view_event_id DESC) AS rn FROM v0) t WHERE rn = 1)
SELECT p.event_id, p.user_id, p.value,
  COALESCE(v.view_event_id, -1) AS view_event_id,
  COALESCE(epoch_us(p.ts) - epoch_us(v.ts), -1) AS gap_us
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    doc="As-of (point-in-time) join: each purchase is attributed to "
    "the same user's latest view at-or-before it. Spark side is the "
    "distributed union-marker fill (one shuffle per side, per-key "
    "sort, NO quadratic range join); oracle is DuckDB's native ASOF "
    "LEFT JOIN. Unmatched rows surface as -1 so both engines keep "
    "int64 dtypes (nullable-int pandas coercion differs).",
)
def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"), "user_id", "ts"
    )
    j = asof_join_backward(
        purchases,
        views,
        on="user_id",
        right_cols=["view_event_id"],
        right_tiebreak="view_event_id",
    )
    return j.select(
        "event_id",
        "user_id",
        "value",
        F.coalesce("view_event_id", F.lit(-1)).alias("view_event_id"),
        F.coalesce(
            epoch_us("ts") - epoch_us("_matched_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


@register(
    "events_range_join_bursts",
    """
WITH ivl AS (SELECT event_id AS err_id, user_id, ts AS start_ts,
             ts + INTERVAL 600 SECOND AS end_ts
             FROM events WHERE event_type = 'error'),
clicks AS (SELECT user_id, ts AS click_ts FROM events
           WHERE event_type = 'click')
SELECT i.err_id, CAST(count(c.click_ts) AS BIGINT) AS n_clicks
FROM ivl i LEFT JOIN clicks c
  ON c.user_id = i.user_id
  AND c.click_ts >= i.start_ts AND c.click_ts <= i.end_ts
GROUP BY i.err_id
""",
    doc="Range (interval) join: clicks landing inside each user's "
    "10-minute post-error window. Spark side buckets time so the "
    "interval join is a (key, bucket) equi-join + exact refine — "
    "linear shuffle, never the nested-loop range join; zero-click "
    "windows preserved by the final right join.",
)
def events_range_join_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 600 SECOND")).alias("end_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    joined = range_join_bucketed(
        clicks, errors, "user_id", "click_ts", "start_ts", "end_ts", bucket_s=600
    )
    counts = joined.groupBy("err_id").agg(F.count("*").alias("n"))
    return errors.select("err_id").join(counts, "err_id", "left").select(
        "err_id", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_clicks")
    )


@register(
    "events_zscore_anomalies",
    "SELECT event_id, event_type, round(value, 2) AS value, "
    "round((value - avg_v) / sd_v, 2) AS zscore "
    "FROM (SELECT event_id, event_type, value, "
    "avg(value) OVER (PARTITION BY event_type) AS avg_v, "
    "stddev_samp(value) OVER (PARTITION BY event_type) AS sd_v FROM events) "
    "WHERE abs((value - avg_v) / sd_v) > 2.5",
    doc="Anomaly flagging: per-type z-score, |z| > 2.5 outliers. Spark "
    "side is groupBy stats + broadcast join back (a PARTITION BY "
    "event_type window puts a whole type's data in ONE task — with 5 "
    "types that's 1/5 of 100 TB per task); the oracle keeps the window "
    "form, proving the shapes are equivalent.",
)
def events_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("avg_v"), F.stddev_samp("value").alias("sd_v")
    )
    z = (F.col("value") - F.col("avg_v")) / F.col("sd_v")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round(z, 2).alias("zscore"),
        )
    )


# =====================================================================
# TPC-H-style fill-out (adapted to the testdata's column subset: no
# partsupp table, no commit/receipt dates, no phone/container/comment
# columns — each query keeps the ORIGINAL's plan shape and swaps the
# missing column for an available analog).
# =====================================================================

sql_query(
    "q4_priority_late_exists",
    "SELECT o_orderpriority, count(*) AS order_count "
    "FROM orders "
    "WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) "
    "GROUP BY o_orderpriority",
    doc="TPC-H Q4-style: correlated EXISTS semi-join (late-shipment "
    "analog of commitdate<receiptdate) + priority rollup.",
)

sql_query(
    "q6_forecast_revenue",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
    "FROM lineitem "
    "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' "
    "AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24",
    doc="TPC-H Q6-style: pure scan-side conjunctive filter + single "
    "aggregate — the predicate-pushdown showcase.",
)

sql_query(
    "q8_market_share",
    "SELECT o_year, round(sum(CASE WHEN nation = 'NATION_5' THEN volume "
    "ELSE 0 END) / sum(volume), 4) AS mkt_share FROM ("
    "SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year, "
    "l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation "
    "FROM part JOIN lineitem ON p_partkey = l_partkey "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "JOIN region ON n1.n_regionkey = r_regionkey "
    "JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY' "
    "AND o_orderdate BETWEEN '1995-01-01' AND '1996-12-31') v "
    "GROUP BY o_year",
    doc="TPC-H Q8-style: 7-table snowflake join (nation twice), "
    "conditional market-share ratio per year.",
)

sql_query(
    "q9_profit_by_nation_year",
    "SELECT nation, o_year, round(sum(amount), 2) AS profit FROM ("
    "SELECT n_name AS nation, "
    "CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year, "
    "l_extendedprice * (1 - l_discount) AS amount "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE '%red%') v "
    "GROUP BY nation, o_year",
    doc="TPC-H Q9-style: profit by supplier nation × order year with a "
    "LIKE-filtered part dimension (supplycost column absent by design).",
)

sql_query(
    "q12_priority_line_classes",
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
    "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' "
    "GROUP BY l_linestatus",
    doc="TPC-H Q12-style: join + dual conditional counts per class "
    "(linestatus stands in for the absent shipmode).",
)

sql_query(
    "q13_customer_distribution",
    "SELECT c_count, count(*) AS custdist FROM ("
    "SELECT c_custkey, count(o_orderkey) AS c_count "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "AND o_orderpriority <> '5-LOW' "
    "GROUP BY c_custkey) c_orders "
    "GROUP BY c_count",
    doc="TPC-H Q13-style: outer-join count distribution (histogram of "
    "orders per customer, zero bucket preserved).",
)

sql_query(
    "q15_top_supplier",
    "WITH revenue AS ("
    "SELECT l_suppkey AS supplier_no, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue "
    "FROM lineitem "
    "WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01' "
    "GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_revenue "
    "FROM supplier JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)",
    doc="TPC-H Q15-style: CTE reused twice (join side + scalar-subquery "
    "max) — the view-based top-supplier pattern.",
)

sql_query(
    "q16_supplier_part_variety",
    "SELECT p_brand, p_type, p_size, "
    "count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM part JOIN lineitem ON p_partkey = l_partkey "
    "WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%' "
    "AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45) "
    "AND l_suppkey NOT IN "
    "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
    "GROUP BY p_brand, p_type, p_size",
    doc="TPC-H Q16-style: NOT-IN anti-join + count(DISTINCT) per "
    "brand/type/size bucket.",
)

sql_query(
    "q17_small_qty_revenue",
    "SELECT round(sum(l1.l_extendedprice) / 7.0, 2) AS avg_yearly "
    "FROM lineitem l1 JOIN part ON p_partkey = l1.l_partkey "
    "WHERE p_brand = 'Brand#11' "
    "AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) "
    "FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)",
    doc="TPC-H Q17-style: correlated scalar-average subquery per part "
    "(small-quantity order revenue).",
)

sql_query(
    "q19_disjunctive_predicates",
    "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 "
    "AND l_quantity BETWEEN 1 AND 11) "
    "OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25 "
    "AND l_quantity BETWEEN 10 AND 20) "
    "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 35 "
    "AND l_quantity BETWEEN 20 AND 30)",
    doc="TPC-H Q19-style: OR-of-conjunction predicates spanning both "
    "join sides (tests disjunction pushdown through the join).",
)

sql_query(
    "q20_promo_part_suppliers",
    "SELECT s_name, s_acctbal FROM supplier "
    "WHERE s_suppkey IN ("
    "SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_name LIKE 'red%' "
    "AND l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01' "
    "GROUP BY l_suppkey HAVING sum(l_quantity) > 100)",
    doc="TPC-H Q20-style: nested IN with aggregated HAVING inside the "
    "subquery (suppliers moving enough of the filtered parts).",
)

sql_query(
    "q21_waiting_suppliers",
    "SELECT s_name, count(*) AS numwait "
    "FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey "
    "JOIN orders ON o_orderkey = l1.l_orderkey "
    "WHERE o_orderstatus = 'F' "
    "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY "
    "AND EXISTS (SELECT 1 FROM lineitem l2 "
    "WHERE l2.l_orderkey = l1.l_orderkey "
    "AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
    "WHERE l3.l_orderkey = l1.l_orderkey "
    "AND l3.l_suppkey <> l1.l_suppkey "
    "AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY) "
    "GROUP BY s_name",
    doc="TPC-H Q21-style: EXISTS + NOT-EXISTS self-joins on lineitem "
    "(sole late supplier per finished multi-supplier order; 60-day "
    "lateness stands in for the absent commit/receipt dates).",
)

sql_query(
    "q22_idle_customers",
    "SELECT cntrycode, count(*) AS numcust, "
    "round(sum(c_acctbal), 2) AS totacctbal FROM ("
    "SELECT right(c_name, 1) AS cntrycode, c_acctbal, c_custkey "
    "FROM customer "
    "WHERE right(c_name, 1) IN ('1', '3', '5', '7') "
    "AND c_acctbal > (SELECT avg(c_acctbal) FROM customer "
    "WHERE c_acctbal > 0.0 AND right(c_name, 1) IN ('1', '3', '5', '7')) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderdate >= '2000-01-01')"
    ") custsale GROUP BY cntrycode",
    doc="TPC-H Q22-style: uncorrelated scalar-average threshold + "
    "NOT-EXISTS anti-join (name-suffix digit stands in for the absent "
    "phone country code; 'no recent orders' for 'no orders at all' so "
    "the result is non-empty at every test scale).",
)


sql_query(
    "q11_important_stock",
    "SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS part_value "
    "FROM lineitem "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_name = 'NATION_12' "
    "GROUP BY l_partkey "
    "HAVING sum(l_extendedprice * l_quantity) > 1.5 * ("
    "SELECT avg(part_value) FROM ("
    "SELECT sum(l_extendedprice * l_quantity) AS part_value "
    "FROM lineitem "
    "JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_name = 'NATION_12' GROUP BY l_partkey))",
    doc="TPC-H Q11-style important-stock: per-part value held by one "
    "nation's suppliers, kept only above an uncorrelated scalar-"
    "subquery threshold (1.5x the average part value — the avg-"
    "relative form stays populated at every scale factor, unlike "
    "Q11's fraction-of-total which needs per-SF retuning; threshold "
    "margin >=7e-5 relative at sf0.001-0.1, far above double-sum "
    "drift). lineitem x supplier stands in for the absent partsupp.",
)

from . import query_catalog_cdc  # noqa: E402,F401  (registration side effect — keep last)


# ---------------------------------------------------------------------
# Round-4 surface additions
# ---------------------------------------------------------------------

sql_query(
    "events_gapfill_locf",
    # hypertable-style gap filling: materialize the full hourly bucket
    # grid per event_type (explode(sequence) — the same zero-shuffle
    # generator as chunking), left-join the real aggregates, and
    # carry the last observed value forward (LOCF) across empty
    # buckets with an ignore-nulls window. Grid size = series span,
    # independent of event volume; one shuffle for the aggregate, one
    # per-series window for the fill.
    "WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket, "
    "round(sum(value), 2) AS v, count(*) AS n FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1), "
    "grid AS (SELECT event_type, explode(sequence(mn, mx, interval 1 hour)) AS bucket FROM bounds), "
    "j AS (SELECT g.event_type, g.bucket, b.n, b.v FROM grid g "
    "LEFT JOIN b ON b.event_type = g.event_type AND b.bucket = g.bucket) "
    "SELECT event_type, date_format(bucket, 'yyyy-MM-dd HH:mm:ss') AS bucket, "
    "CAST(coalesce(n, 0) AS BIGINT) AS n_events, "
    "CAST(coalesce(n, 0) > 0 AS BOOLEAN) AS observed, "
    "last_value(v, true) OVER (PARTITION BY event_type ORDER BY bucket "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf "
    "FROM j",
    "WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket, "
    "round(sum(value), 2) AS v, count(*) AS n FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1), "
    "grid AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket FROM bounds), "
    "j AS (SELECT g.event_type, g.bucket, b.n, b.v FROM grid g "
    "LEFT JOIN b ON b.event_type = g.event_type AND b.bucket = g.bucket) "
    "SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, "
    "CAST(coalesce(n, 0) AS BIGINT) AS n_events, "
    "CAST(coalesce(n, 0) > 0 AS BOOLEAN) AS observed, "
    "last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf "
    "FROM j",
    doc="Time-series gap filling with last-observation-carried-forward "
    "(the hypertable time_bucket_gapfill + locf analog): full hourly "
    "grid per series via explode(sequence), left join of real "
    "aggregates, ignore-nulls window fill. Grid volume is span-bound, "
    "not event-bound; the fill is one per-series window.",
)

sql_query(
    "grouping_sets_flag_status",
    # explicit GROUPING SETS (finer control than rollup/cube — the
    # ()-level and the two single-column levels, skipping the pair):
    # grouping() markers disambiguate real NULLs from subtotal rows.
    "SELECT l_returnflag, l_linestatus, "
    "CAST(grouping(l_returnflag) AS BIGINT) AS g_flag, "
    "CAST(grouping(l_linestatus) AS BIGINT) AS g_status, "
    "count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS total_qty "
    "FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(grouping(l_returnflag) AS BIGINT) AS g_flag, "
    "CAST(grouping(l_linestatus) AS BIGINT) AS g_status, "
    "count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS total_qty "
    "FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
    doc="Explicit GROUPING SETS with grouping() markers — the "
    "finer-grained sibling of the rollup/cube entries (identical "
    "expansion semantics in both engines; one shuffle, Expand-based "
    "multi-grouping in Spark).",
)

sql_query(
    "events_rolling_10min_sum",
    # time-based rolling aggregate: RANGE frame over the epoch-micros
    # ordering key — each row sees the true trailing 10 minutes, not a
    # fixed row count. NTZ-safe via the epoch_us idiom; one hash
    # shuffle on user_id + a per-key sort, the same cost shape as any
    # keyed window.
    "SELECT user_id, event_id, "
    "CAST(count(*) OVER w AS BIGINT) AS n_10min, "
    "round(sum(value) OVER w, 2) AS sum_10min "
    "FROM (SELECT user_id, event_id, value, "
    "unix_micros(CAST(ts AS TIMESTAMP)) AS es FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY es "
    "RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)",
    "SELECT user_id, event_id, "
    "CAST(count(*) OVER w AS BIGINT) AS n_10min, "
    "round(sum(value) OVER w, 2) AS sum_10min "
    "FROM (SELECT user_id, event_id, value, "
    "CAST(epoch_us(ts) AS BIGINT) AS es FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY es "
    "RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)",
    doc="Time-based rolling aggregate (trailing 10-minute count/sum per "
    "user) via a RANGE window frame over epoch microseconds — the "
    "moving-average building block; value-identical RANGE semantics in "
    "both engines once the ordering key is numeric.",
)

from . import query_catalog_analytics  # noqa: E402,F401  (registration side effect)
from . import query_catalog_mining  # noqa: E402,F401  (registration side effect)
from . import query_catalog_stats  # noqa: E402,F401  (registration side effect)
from . import query_catalog_lakehouse  # noqa: E402,F401  (registration side effect)
from . import query_catalog_corpus  # noqa: E402,F401  (registration side effect — keep after stats)
