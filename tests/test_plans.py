"""Physical-plan assertions — the scale contract, enforced.

EXPLAINS.md documents the plans; these tests make the key properties
regression-proof: no accidental cartesian products anywhere in the
catalog, pushed filters / pruned schemas on the scan paths, and the
zero-shuffle claim of the chunking operator.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# crossJoin(broadcast(...)) lowers to BroadcastNestedLoopJoin — linear
# (corpus × k broadcast rows), intentional in the similarity family and
# the q2 decorrelated min-cost shape. Everything else must not BNLJ.
BNLJ_OK = {
    "ann_cosine_topk",
    "ann_lsh_bucket_topk",
    "ann_lsh_multiprobe_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    # corpus x k-row broadcast codebook assignment (linear, IVF family)
    "ann_ivf_pq_adc_topk",
    # same probe shape over the parquet-persisted index halves
    "ann_ivf_pq_persisted_topk",
    # corpus x 3-query broadcast coarse pass (linear, brute-force family)
    "ann_matryoshka_rerank_topk",
    # corpus x 3-anchor broadcast scan (linear, brute-force family)
    "mine_hard_negatives",
    # composes brute_force_topk + ivf_topk (both broadcast shapes above)
    "ann_recall_eval",
    # composes brute_force_topk + ivf_pq_adc_topk (broadcast shapes)
    "ann_recall_pq_eval",
    # corpus x k-row broadcast codebook (linear assignment, same as IVF)
    "dedup_semdedup_embeddings",
    "dedup_semdedup_incremental",
    "dedup_embedding_cosine_pairs",
    "dedup_embedding_cosine_pairs_banded",
    # 1-row corpus-count broadcast for integer idf weights — scalar join
    "dedup_simhash_weighted_signatures",
    "embedding_quantize_int8",
    "q2_min_cost_supplier",
    "q22_idle_customers",
    # 25x25 rank self-join on the already-limited top-k (documented)
    "text_top_tokens",
    # per-group stats x single-row broadcast total (scalar join)
    "corpus_balance_report",
    # postings x single-row broadcast corpus stats (N, avgdl) — scalar join
    "text_bm25_search",
    # (doc, term) tf rows x single-row broadcast corpus count — scalar join
    "text_tfidf_top_terms",
    # per-lang rows x single-row broadcast token budget — scalar join
    "corpus_token_budget_mix",
    # per-lang rows x two 1-row scalars (corpus total, weight fold)
    "corpus_temperature_mix",
    # docs x single-row broadcast length normalizer — scalar join
    "sample_weighted_by_quality",
    # token stream x single-row broadcast corpus token count — scalar join
    "text_unigram_logprob",
    # bigram stream x single-row broadcast vocab size — scalar join
    "text_bigram_perplexity",
    # embeds the bigram-perplexity scalar-vocab join above
    "curate_ccnet_corpus",
    # brand-pair supports x single-row broadcast order total — scalar join
    "orders_market_basket",
    # corpus x single-row broadcast query vector — scalar join
    "search_hybrid_rrf",
    # token stream x single-row broadcast LM totals — scalar join
    "curate_dsir_importance",
    # 1-row CMS estimate x 1-row exact count — scalar join
    "sketch_join_size_estimate",
    # 6-group x 256-register literal grid — constant-size cross join
    "sketch_hll_distinct",
    # three 1-row scalar readouts fused — scalar joins
    "pseudonymize_referential_integrity",
    # residuals x 1-row median/MAD scalars — scalar joins
    "events_anomaly_seasonal_mad",
    # eval gram stream x single-row broadcast (N, V) train totals
    "text_trigram_stupid_backoff",
    # per-lang rows x three 1-row scalars (budget, water level j, v)
    "corpus_unimax_budget_mix",
    # support-point CDF x 1-row (n1, n2) totals — scalar joins
    "stats_ks_test_chars",
    # embeds the bigram-perplexity scalar-vocab join (see above)
    "quality_ensemble_vote",
    # 20-row persisted pool self-product + 1-row query vector — both
    # broadcast-tiny by construction (pool is LIMIT-bounded)
    "ann_mmr_diversified_topk",
    # three 1-row sketch estimates x 1-row exact readout — scalar joins
    "sketch_hll_set_algebra",
    # 1-row CI percentile frame x 1-row full-mean scalar — scalar join
    "stats_poisson_bootstrap_ci",
    # verified-pair frame x 3-row broadcast threshold list (non-equi
    # j >= t join on a tiny side) + 1-row corpus-count scalar
    "dedup_minhash_threshold_sweep",
    # exact_ntile: rows x 1-row broadcast total-count scalar join
    "layout_zorder_events",
    "quantile_binning_prices",
    # two exact_ntile bucketings, each with the 1-row total scalar join
    "layout_hilbert_vs_zorder_clustering",
    # composes brute_force_topk + ivf_topk (both broadcast shapes above)
    "ann_ndcg_mrr_eval",
    # corpus x 4-row broadcast candidate values, non-equi <= rank scan
    "stats_quantile_sketch_error",
    # |customers| ranked frame x 1-row (n, tot) scalar join
    "orders_gini_concentration",
    # ranked+cumsum frame x 1-row revenue-total scalar join
    "orders_pareto_customers",
    # corpus x 3-query broadcast scan per prefix width (brute-force
    # family, same shape as ann_cosine_topk)
    "ann_matryoshka_dim_sweep",
    # token/bigram streams x 1-row scalars (corpus total, vocab) +
    # k-domain rows x 1-row EG fold (sum_w, k) — all scalar joins
    "corpus_doremi_proxy_weights",
    # same LM scalar joins + exact_ntile's 1-row total-count join
    "curate_rho_loss_selection",
}

# iterative operators run jobs while BUILDING the frame (k-means
# training, label propagation) — planning them here would execute the
# whole algorithm; their join shapes are covered by the entries that
# share their building blocks.
SKIP_HEAVY_BUILD = {
    # frame construction runs an availableNow streaming query; the
    # returned frame is the same snapshot-agg shape the other acid
    # entries already sweep
    "acid_stream_feed_orders",
    "acid_stream_cdf_orders",
    # frame construction runs an availableNow stream + register writes
    "streaming_hll_users",
    "streaming_cms_users",
    "streaming_hll_hourly_users",
    "streaming_psi_drift",
    "dedup_duplicate_clusters",
    "dedup_cluster_representatives",
    "ann_ivf_kmeans_topk",
    "refresh_rollup_incremental",
}


#: entries whose unpartitioned window runs over a GROUPED aggregate
#: with a documented SMALL-DOMAIN grouping key — a grouped aggregate
#: is NOT bounded in general (groupBy(doc_id) has corpus cardinality),
#: so each member must say why its group domain stays small at 100 TB.
WINDOW_OVER_GROUPED_AGG_OK = {
    # centroid-label rank over the k-centroid frame (k = fixed
    # constant in the IVF family)
    "ann_ivf_topk",
    "ann_ivf_pq_adc_topk",
    "ann_recall_eval",
    "ann_recall_pq_eval",
    "ann_ndcg_mrr_eval",
    # grouped by leading digit — domain is exactly 9
    "dq_benford_amounts",
    # grouped by day-of-week — domain is exactly 7
    "events_seasonality_dow",
    # grouped by event_type — schema-bounded enum, not data-scaled
    "events_anomaly_seasonal_mad",
    # grouped by the 4-value consistency band
    "dq_order_lineitem_consistency",
    # grouped by floor-4dp score in [0,1] — domain <= 10001 by rounding
    "quality_score_auc",
    # grouped by integer lifetime-in-DAYS — observation-window-bounded
    "events_survival_km",
    # grouped by md5 bucket % 20 — fixed 20-group jackknife domain
    "stats_jackknife_ci",
}


def _unbounded_global_windows(df, allow_grouped_agg: bool = False) -> list[str]:
    """Descriptions of Window nodes with an EMPTY partition spec whose
    input subtree shows no bounding node.  An unpartitioned window
    funnels the whole input through ONE task — fatal at 100 TB unless
    the input is already tiny by construction.  Bounding nodes:
    GlobalLimit / TakeOrderedAndProject / CollectLimit (LIMIT-bounded)
    and GLOBAL aggregates (no grouping → one row).  A GROUPED
    aggregate bounds nothing in general (groupBy(doc_id) has corpus
    cardinality) — entries windowing over one must be whitelisted in
    WINDOW_OVER_GROUPED_AGG_OK with the reason their domain is small.
    InMemoryTableScan counts as bounded: the repo's cached pools are
    LIMIT-bounded at build time (asserted by their own tests)."""
    BOUNDING = ("GlobalLimit", "TakeOrderedAndProject", "CollectLimit",
                "InMemoryTableScan")

    def subtree_bounded(node) -> bool:
        name = node.nodeName()
        if any(b in name for b in BOUNDING):
            return True
        if "Aggregate" in name:
            try:
                grouping = node.groupingExpressions()
                if grouping.isEmpty():
                    return True  # global aggregate: one row
                # grouped by spark_partition_id() -> O(partitions)
                # rows (the global_ordered_scan offsets shape; the
                # helper materializes it as the _pid column first, so
                # match both the expression and EXACTLY that attribute
                # name — "user_pid" etc. must not ride along)
                import re as _re

                g = grouping.toString()
                if "SPARK_PARTITION_ID" in g.upper() or _re.search(
                    r"(?<![A-Za-z0-9_])_pid#", g
                ):
                    return True
            except Exception:
                pass
            if allow_grouped_agg:
                return True
            # a grouped aggregate over an already-bounded input (e.g.
            # LIMIT upstream) bounds too — keep recursing
        kids = node.children()
        n = kids.size()
        if n == 0:
            return False
        # bounded iff EVERY input branch is bounded (a join of a
        # bounded and an unbounded side is unbounded)
        return all(subtree_bounded(kids.apply(i)) for i in range(n))

    bad: list[str] = []

    def walk(node):
        name = node.nodeName()
        if "Window" in name:
            try:
                unpartitioned = node.partitionSpec().isEmpty()
            except Exception:
                unpartitioned = False
            if unpartitioned and not subtree_bounded(node):
                bad.append(node.simpleStringWithNodeId())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))
        if kids.size() == 0:
            for attr in ("executedPlan", "plan"):  # AQE wrappers
                try:
                    walk(getattr(node, attr)())
                    return
                except Exception:
                    pass

    walk(df._jdf.queryExecution().executedPlan())
    return bad


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_no_cartesian_product_anywhere(name, spark):
    if name in SKIP_HEAVY_BUILD:
        pytest.skip("frame construction executes the iterative algorithm")
    df = entry_mod.queries()[name](spark, SF_ORACLE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a nested-loop join (non-equi or missing join key?)"
        )
    # the r9 bench tail was full of 'WindowExec: No Partition Defined'
    # warnings — each known site windows over a LIMIT/aggregate-bounded
    # input; this makes that claim regression-proof catalog-wide
    bad = _unbounded_global_windows(
        df, allow_grouped_agg=name in WINDOW_OVER_GROUPED_AGG_OK
    )
    assert not bad, (
        f"{name} runs an unpartitioned window over an UNBOUNDED input "
        f"(single-task funnel at scale): {bad}"
    )


def test_q1_scan_pushdown_and_pruning(spark):
    df = entry_mod.queries()["q1_pricing_summary"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], "l_shipdate filter not pushed to the parquet scan"
    # projection pruning: the lineitem scan must not read all 16 columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert read_schema.count(",") <= 7, f"q1 scan reads too many columns: {read_schema}"


def test_bucketed_join_elides_join_exchanges(spark):
    """layout_bucketed_join_orders: both scans read bucketed tables and
    the sort-merge join consumes them WITHOUT re-shuffling on the join
    key — the whole point of paying the bucket layout at write time."""
    df = entry_mod.queries()["layout_bucketed_join_orders"](spark, SF_ORACLE)
    plan = _plan(df)
    assert "SortMergeJoin" in plan, "merge hint not honored"
    assert plan.count("Bucketed: true") >= 2, "scans are not bucketed reads"
    assert "hashpartitioning(o_custkey" not in plan, (
        "orders side re-shuffled despite bucketing"
    )
    assert "hashpartitioning(c_custkey" not in plan, (
        "customer side re-shuffled despite bucketing"
    )


def test_q3_broadcasts_dimensions(spark):
    plan = _plan(entry_mod.queries()["q3_shipping_priority"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_zero_shuffle(spark):
    plan = _plan(entry_mod.queries()["chunk_documents_fixed"](spark, SF_ORACLE))
    assert "Exchange" not in plan, "chunking should be a narrow explode, no shuffle"


def test_jaccard_has_no_exploded_verify(spark):
    plan = _plan(entry_mod.queries()["dedup_ngram_jaccard_pairs"](spark, SF_ORACLE))
    assert "array_intersect" in plan, "verification should use array_intersect"
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_partitioned_lake(spark, tmp_path):
    """A day-partitioned lake table joined to a selectively-filtered
    dimension gets a dynamicpruning PartitionFilter — the fact scan
    reads only the dimension's surviving days, the mechanism that keeps
    a 100 TB fact scan proportional to the filter, not the table."""
    from pyspark.sql import functions as F

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        load_table,
    )

    ev = load_table(spark, SF_ORACLE, "events")
    keyed = ev.withColumn("day", F.col("ts").cast("date").cast("string"))
    keyed.write.partitionBy("day").mode("overwrite").parquet(str(tmp_path / "ev"))
    days = (
        keyed.select("day").distinct()
        .withColumn(
            "tag",
            F.when(F.col("day") < "2024-01-08", "promo").otherwise("normal"),
        )
    )
    days.write.mode("overwrite").parquet(str(tmp_path / "dim"))

    fact = spark.read.parquet(str(tmp_path / "ev"))
    dim = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("tag") == "promo")
    joined = fact.join(dim, "day").groupBy("tag").count()

    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), "expected a DPP PartitionFilter"

    expected = keyed.filter(F.col("day") < "2024-01-08").count()
    got = joined.collect()
    assert got[0]["count"] == expected


def test_join_strategy_hints_respected(spark):
    """The engine honors user join-strategy hints — the escape hatch
    when stats mislead the optimizer at scale: BROADCAST forces a
    BroadcastHashJoin, MERGE a SortMergeJoin, SHUFFLE_HASH a
    ShuffledHashJoin, on the identical query."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
        TESTDATA_TABLES,
        register_parquet_views,
    )

    register_parquet_views(spark, SF_ORACLE, TESTDATA_TABLES)
    q = (
        "SELECT /*+ {hint} */ count(*) AS n FROM orders o "
        "JOIN customer c ON o.o_custkey = c.c_custkey"
    )
    for hint, node in [
        ("BROADCAST(c)", "BroadcastHashJoin"),
        ("MERGE(c)", "SortMergeJoin"),
        ("SHUFFLE_HASH(c)", "ShuffledHashJoin"),
    ]:
        plan = _plan(spark.sql(q.format(hint=hint)))
        assert node in plan, f"{hint} did not produce {node}:\n{plan[:500]}"


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join handling actually engages: a join whose hot key
    dominates one shuffle partition gets that partition split
    (AQEShuffleRead ... skew=true) instead of one straggler task —
    the runtime half of the skew story (operators/skew.py salting is
    the planning half). Subtlety this test encodes: skew detection
    uses COMPRESSED map-output sizes, so the hot partition must carry
    incompressible payload (md5 strings) — a constant key column
    alone compresses to a few KB and never trips the threshold."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 550_000).select(
            F.when(F.col("id") < 500_000, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        j = big.join(small, "k").select(
            F.count("*").alias("n"), F.max("payload").alias("mx")
        )
        assert j.collect()[0]["n"] == 550_000
        plan = _plan(j)
        assert "skew=true" in plan, (
            "hot-key partition was not skew-split:\n" + plan[:800]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_catalog_rotation_prioritizes_unverified_entries():
    """The driver samples the FIRST 50 queries() entries per round; the
    catalog must therefore sort every oracle-backed entry that has no
    green CORRECTNESS row yet ahead of already-verified ones, and all
    of them must fit in the sampled window when <= 50 remain."""
    import json
    from pathlib import Path

    import __spark_entry__ as entry_mod

    root = Path(__file__).resolve().parent.parent
    verified = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for name, row in json.loads(p.read_text()).items():
            if isinstance(row, dict) and row.get("err") is None and row.get("rows_match"):
                verified.add(name)
    names = list(entry_mod.queries())
    unverified = [n for n in names if n not in verified]
    window = set(names[:50])
    if len(unverified) <= 50:
        missing = [n for n in unverified if n not in window]
        assert not missing, (
            f"{len(missing)} never-verified entries outside the driver's "
            f"50-entry sample window: {missing[:5]}"
        )
    else:
        assert all(n not in verified for n in names[:50])


def test_duplicate_registration_raises():
    """register/sql_query must refuse an existing name: a duplicate
    silently shadows by module import order (the last import wins), so
    which implementation ``queries()`` serves would depend on the
    import list in query_catalog.py — an r11 entry landed dead-on-
    arrival exactly this way."""
    import pytest as _pytest

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        query_catalog as qc,
    )

    taken = next(iter(qc._CATALOG))
    with _pytest.raises(ValueError, match="already registered"):
        qc.register(taken, None)(lambda spark, sf: None)
    with _pytest.raises(ValueError, match="already registered"):
        qc.sql_query(taken, "SELECT 1")
    # and every registered entry is self-consistent: the CatalogEntry's
    # own name matches the key it is registered under (a dict can't
    # hold duplicate keys, so THIS is the meaningful invariant — a
    # mismatch would mean an entry was registered under the wrong name)
    for key, entry in qc._CATALOG.items():
        assert entry.name == key, f"{key!r} holds entry named {entry.name!r}"


def test_dedup_rate_by_source_loser_join_not_hint_forced(spark):
    """The MinHash loser set is UNBOUNDED (20-50% of a near-dup-heavy
    web corpus) — the attribution join must carry no broadcast HINT.
    AQE may still pick broadcast at tiny SF from MEASURED size; what
    this guards is the hint that would force the attempt (driver OOM)
    regardless of size, matching drop_near_duplicates' un-hinted
    left_anti."""
    df = entry_mod.queries()["corpus_dedup_rate_by_source"](spark, SF_ORACLE)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "corpus_dedup_rate_by_source forces a join strategy by hint on "
        "an unbounded side:\n" + analyzed[:2000]
    )


def test_mmr_steps_read_persisted_pool_not_corpus(spark):
    """Each greedy MMR step must replan over the PERSISTED 20-row pool
    and similarity table (InMemoryTableScan), never rescan the
    embeddings parquet — the corpus-scale work is only the initial
    top-pool scan."""
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_corpus import (
        _mmr_pool_and_sims,
        _mmr_step_frame,
    )

    pool, sims = _mmr_pool_and_sims(spark, SF_ORACLE)
    try:
        assert pool.storageLevel.useMemory, "pool is not persisted"
        assert sims.storageLevel.useMemory, "sims table is not persisted"
        first = pool.orderBy(pool.rel.desc(), pool.vec_id.asc()).first()
        step = _mmr_step_frame(pool, sims, [first["vec_id"]])
        step.first()  # materialize so the cache is actually used
        # the plan STRING echoes each InMemoryRelation's original
        # build plan (which mentions parquet), so walk the live tree:
        # every leaf must be an InMemoryTableScan, never a file scan
        leaves: list[str] = []

        def walk(node):
            name = node.nodeName()
            if "InMemoryTableScan" in name:
                leaves.append("InMemoryTableScan")
                return
            kids = node.children()
            if kids.size() == 0:
                # AQE wrappers hide their subtree outside children()
                for attr in ("executedPlan", "plan"):
                    try:
                        walk(getattr(node, attr)())
                        return
                    except Exception:
                        pass
                leaves.append(name)
                return
            for i in range(kids.size()):
                walk(kids.apply(i))

        walk(step._jdf.queryExecution().executedPlan())
        assert leaves == ["InMemoryTableScan", "InMemoryTableScan"], (
            f"MMR step must read ONLY the cached pool + sims, got "
            f"leaves {leaves}"
        )
    finally:
        pool.unpersist()
        sims.unpersist()


@pytest.mark.parametrize(
    "mod",
    [
        "query_catalog",
        "query_catalog_analytics",
        "query_catalog_mining",
        "query_catalog_stats",
        "query_catalog_lakehouse",
        "query_catalog_corpus",
        "query_catalog_ml",
        "query_catalog_cdc",
        "query_oracle_shared",
    ],
)
def test_catalog_modules_import_standalone(mod):
    """Every catalog module must import DIRECTLY in a fresh
    interpreter (the SURVEY r8 import-cycle class: registration-time
    oracles that embed a sibling's SQL used to re-enter the partially
    initialized sibling — fine via __spark_entry__, ImportError
    standalone).  Cross-module oracle builders now live in
    query_oracle_shared / functions.text, or defer via callable
    oracles resolved at catalog() access."""
    import subprocess
    import sys

    pkg = "platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark"
    r = subprocess.run(
        [sys.executable, "-c", f"import {pkg}.{mod}"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, f"{mod} fails standalone:\n{r.stderr[-2000:]}"


def test_package_reads_no_repo_root_artifacts():
    """Library code must not depend on run records kept in the repo
    root (``CORRECTNESS_r*.json``, ``BENCH_*.json``): catalog order and
    behavior are the same wherever the package is installed.  A module
    reaches the repo root by walking ``Path(__file__)`` up past the
    package directory."""
    import re
    from pathlib import Path

    import platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark as pkg_mod

    pkg = Path(pkg_mod.__file__).parent
    repo = pkg.parent
    artifact = re.compile(r"CORRECTNESS_r|\bBENCH_")
    walk_up = re.compile(r"__file__\)?(?:\.resolve\(\))?((?:\.parent\b)+|\.parents\[(\d+)\])")
    bad = []
    for mod in sorted(pkg.rglob("*.py")):
        rel = mod.relative_to(pkg)
        depth = len(rel.parts) - 1  # dirs between the module and pkg
        text = mod.read_text()
        if artifact.search(text) or str(repo) in text:
            bad.append(str(rel))
            continue
        for m in walk_up.finditer(text):
            ups = m.group(1).count(".parent") if m.group(2) is None else int(m.group(2)) + 1
            if ups > depth + 1:
                bad.append(f"{rel}: {m.group(0)}")
    assert not bad, f"library code reads repo-root artifacts: {bad}"


def test_lakehouse_commits_through_one_site():
    """Every transaction-log commit goes through
    ``TransactionLog._commit``, which owns the version probe, the
    conflict policies and the retries: the create-if-absent primitive
    ``_try_commit`` has exactly one caller in the package, so a new
    hand-written commit site fails here."""
    import ast
    from pathlib import Path

    import platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark as pkg_mod

    pkg = Path(pkg_mod.__file__).parent
    callers = []
    for mod in sorted(pkg.rglob("*.py")):
        tree = ast.parse(mod.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "_try_commit"
                ):
                    callers.append(f"{mod.relative_to(pkg)}:{fn.name}")
    assert callers == ["lakehouse.py:_commit"], callers


def test_lakehouse_parquet_reads_state_their_schema():
    """Every ``spark.read...parquet(`` chain in ``lakehouse.py`` states
    its schema: the log (or the fixed DV sidecar layout) already knows
    it, and a read that infers it runs a hidden footer job on every
    build of the frame."""
    import ast
    from pathlib import Path

    import platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark as pkg_mod

    src = Path(pkg_mod.__file__).parent / "lakehouse.py"
    reads, bad = 0, []
    for node in ast.walk(ast.parse(src.read_text())):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "parquet"
        ):
            continue
        chain, cur = [], node.func.value
        while isinstance(cur, (ast.Call, ast.Attribute)):
            if isinstance(cur, ast.Call):
                cur = cur.func
            else:
                chain.append(cur.attr)
                cur = cur.value
        if "read" in chain:
            reads += 1
            if "schema" not in chain:
                bad.append(f"lakehouse.py:{node.lineno}")
    assert reads >= 3, reads
    assert not bad, f"schema-inferring parquet reads: {bad}"


def test_rotation_fronts_new_then_stalest_green():
    """Driver-sample rotation: never-verified oracle entries first,
    then verified entries ordered by the round of their latest green
    row ASCENDING — with coverage closed (every entry green at least
    once, r9), the 50-draw re-verifies the stalest evidence first."""
    from __spark_entry__ import _driver_verified_rounds, _ordered_names

    rounds = _driver_verified_rounds()
    names = _ordered_names()
    seen_verified = False
    last_round = 0
    for n in names:
        if n in rounds:
            seen_verified = True
            assert rounds[n] >= last_round, (
                f"{n} (r{rounds[n]}) ordered after a fresher green "
                f"(r{last_round}) — stalest must come first"
            )
            last_round = rounds[n]
        else:
            assert not seen_verified, (
                f"never-verified entry {n} sorted behind verified ones"
            )


def _pkg_dir():
    from pathlib import Path

    import platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark as pkg_mod

    return Path(pkg_mod.__file__).parent


def test_streaming_sketch_maintainers_share_one_driver():
    """``foreachBatch`` appears in ``streaming/events.py`` only inside
    ``_maintain_log``: every ``run_streaming_*`` sketch maintainer is a
    ``delta``/``merge`` pair on that one driver, so a hand-written
    copy of the replay/marker/checkpoint loop fails here."""
    import ast

    tree = ast.parse((_pkg_dir() / "streaming" / "events.py").read_text())
    sites = [
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Attribute) and node.attr == "foreachBatch"
    ]
    assert sites == ["_maintain_log"], sites


def test_keyed_state_handlers_do_not_gather_batches_themselves():
    """No handler passed to ``applyInPandasWithState`` or
    ``transformWithStateInPandas`` calls ``pd.concat`` or
    ``sort_values`` itself: a key's micro-batch is gathered and put in
    ``(ts, event_id)`` order by ``streaming.events._batch_in_order``
    alone."""
    import ast

    pkg = _pkg_dir()
    handlers, bad = [], []
    for mod in sorted(pkg.rglob("*.py")):
        tree = ast.parse(mod.read_text())
        for outer in tree.body:
            if not isinstance(outer, ast.FunctionDef):
                continue
            local = {
                n.name: n
                for n in ast.walk(outer)
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            }
            for call in ast.walk(outer):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr
                    in ("applyInPandasWithState", "transformWithStateInPandas")
                ):
                    continue
                args = list(call.args) + [
                    k.value for k in call.keywords
                    if k.arg in ("func", "statefulProcessor")
                ]
                handler = args[0].func if isinstance(args[0], ast.Call) else args[0]
                assert isinstance(handler, ast.Name), ast.dump(handler)
                where = f"{mod.relative_to(pkg)}:{outer.name}.{handler.id}"
                handlers.append(where)
                for node in ast.walk(local[handler.id]):
                    if isinstance(node, ast.Attribute) and (
                        node.attr == "sort_values"
                        or (
                            node.attr == "concat"
                            and isinstance(node.value, ast.Name)
                            and node.value.id == "pd"
                        )
                    ):
                        bad.append(f"{where}:{node.lineno} {node.attr}")
    assert len(handlers) >= 5, handlers
    assert not bad, bad


def test_package_reads_no_spark_graft_knobs_but_cpus():
    """The package reads no ``SPARK_GRAFT_*`` environment variable
    other than ``SPARK_GRAFT_CPUS``: session settings are constants
    (or derived from the host), not per-caller env overrides."""
    import ast
    import re

    pkg = _pkg_dir()
    knob = re.compile(r"SPARK_GRAFT_\w+")
    found = sorted(
        f"{mod.relative_to(pkg)}:{node.value}"
        for mod in pkg.rglob("*.py")
        for node in ast.walk(ast.parse(mod.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and knob.fullmatch(node.value)
        and node.value != "SPARK_GRAFT_CPUS"
    )
    assert not found, found
