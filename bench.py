#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall-clock seconds across the headline set
(lower is better).  Each query is executed to completion via a
count-collapsing action that still materializes every result row
(``df.toPandas`` would bottleneck on driver transfer; we want engine
time, so we use ``df.write.format("noop")`` semantics via count over
the full plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

#: headline set — representative of SURVEY.md §2 + the M4 extensions;
#: anything missing from queries() is skipped (bench stays runnable
#: mid-build).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "groupby_multi_agg",
    "window_topk_per_group",
    "left_join_order_counts",
    "events_sessionize",
    "events_tumbling_window",
    "dedup_exact_text",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "ann_cosine_topk",
    "ann_lsh_bucket_topk",
    "ann_ivf_topk",
    "text_quality_scores",
    "text_top_tokens",
    "split_train_holdout",
    "p6_clean_pipeline_composite",
    "curate_training_corpus",
]

#: second recorded band (VERDICT r4 item 8): the analytics/stats/mining
#: tier the frozen headline never covered, so round-over-round
#: comparisons see regressions there too.  Reported under "band2" in
#: the same JSON line; the headline "value" stays comparable to r1-r4.
BAND2 = [
    "events_ohlc_hourly",
    "events_holt_trend",
    "events_anomaly_seasonal_mad",
    "events_top_paths",
    "events_survival_km",
    "events_multitouch_attribution",
    "window_distribution_functions",
    "search_hybrid_rrf",
    "text_zipf_fit",
    "sketch_kmv_distinct_jaccard",
    "sketch_count_min_users",
    "stats_weighted_median_price",
    "orders_cohort_ltv_curve",
    "trade_pagerank_nations",
    "scd2_customer_balance_history",
    "embedding_pq_codes",
    "dq_benford_amounts",
]

#: third recorded band (round 6): the ACID transaction-log tier — each
#: entry BUILDS a transactional table (append/merge/delete/compact/
#: stream commits) and reads it back, so this band tracks the COMMIT
#: PATH's overhead round-over-round, not just query latency.  attempts
#: is 1: every attempt re-runs the full write history, and best-of-N
#: over fresh temp dirs measures the same thing N times.
BAND3 = [
    "acid_time_travel_orders",
    "acid_merge_upsert_orders",
    "acid_dv_delete_orders",
    "acid_data_skipping_orders",
    "acid_partial_optimize_orders",
    "acid_connector_roundtrip_orders",
    "acid_stream_feed_orders",
    # round-6 second half: metadata-operation tier (clone / rename /
    # spec evolution / generated columns) — these must stay CHEAP
    # relative to the data ops above; a regression here means a
    # "metadata-only" operation started touching data
    "acid_shallow_clone_orders",
    "acid_rename_column_orders",
    "acid_partition_evolution_orders",
    "acid_generated_hidden_partitioning_orders",
    # round 7: commit-path scale microbench — ~1000 exact-sized files
    # through a bloom-indexed append + checkpoint at bench sf; times
    # the staging/commit/replay/checkpoint lifecycle at a 100x file
    # count so commit-path regressions surface round-over-round
    "acid_commit_path_bloom_files",
    # round-8 second window: the only data-file-deleting operation
    "acid_vacuum_orders",
    # round 11: metadata retention — log GC lifecycle (expire +
    # post-expiry vacuum); vs_idle handles the band growth via the
    # query-name intersection
    "acid_expire_snapshots_orders",
]


#: fourth recorded band (round 8, second window): the ANN memory
#: hierarchy + sketch/curation tier added this window.  attempts=1:
#: two entries write tables / run an availableNow stream, so best-of-N
#: over rebuilt state measures the same thing N times.
BAND4 = [
    "ann_ivf_pq_adc_topk",
    "ann_matryoshka_rerank_topk",
    "ann_recall_eval",
    "ann_recall_pq_eval",
    "mine_hard_negatives",
    "text_bigram_perplexity",
    "curate_ccnet_corpus",
    "dedup_minhash_estimate_error",
    "sketch_hll_distinct",
    "corpus_temperature_mix",
    "layout_bucketed_join_orders",
    "streaming_hll_users",
    "streaming_cms_users",
    "streaming_hll_hourly_users",
    "ann_ivf_pq_persisted_topk",
    # modality near-dup triple (synthetic planted corpora — constant
    # size by design; tracked for kernel/plan regressions, not scale)
    "mm_image_neardup_pairs",
    "mm_video_neardup_containment",
    "mm_audio_neardup_containment",
]


def _read_idle() -> dict | None:
    try:
        with open(os.path.join(REPO_ROOT, "BENCH_idle.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def idle_ratios(
    idle: dict | None, cpus: int, sf, bands: dict[str, dict[str, float]]
) -> tuple[dict[str, float], dict[str, dict]]:
    """``(vs_idle, vs_idle_basis)``: each band's time as a ratio of the
    committed idle-host record's, so a noisy round is visible in the
    artifact itself.  >~1.5x with a high start loadavg = co-tenancy,
    not a code regression.

    Ratios compare over the INTERSECTION of query names (catalog growth
    adds entries to benched bands, so a totals-only ratio would read >1
    from growth alone); ``vs_idle_basis[k]`` records how
    many entries ratio ``k`` covers and which measured entries the idle
    record lacks.  A record from a different core count or scale factor
    is not comparable: the ratios are then absent and
    ``vs_idle_basis["absent"]`` says why."""
    if idle is None:
        return {}, {"absent": "no readable BENCH_idle.json"}
    if idle.get("cpus") != cpus:
        return {}, {"absent": f"idle record cpus={idle.get('cpus')}, this run cpus={cpus}"}
    if idle.get("sf") != sf:
        return {}, {"absent": f"idle record sf={idle.get('sf')}, this run sf={sf}"}

    def idle_queries(band):  # headline is top-level, bands nest
        v = idle if band == "headline" else idle.get(band)
        return (v.get("queries") or {}) if isinstance(v, dict) else {}

    vs_idle: dict[str, float] = {}
    basis: dict[str, dict] = {}
    for band, mine_q in bands.items():
        idle_q = idle_queries(band)
        common = sorted(set(mine_q) & set(idle_q))
        ref = sum(idle_q[n] for n in common)
        if common and ref:
            vs_idle[f"{band}_vs_idle"] = round(sum(mine_q[n] for n in common) / ref, 2)
            basis[f"{band}_vs_idle"] = {
                "n": len(common),
                "not_in_idle": sorted(set(mine_q) - set(idle_q)),
            }
    return vs_idle, basis


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover
        loadavg_start = None

    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark import (
        get_spark,
    )
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.session import (
        default_parallelism,
    )
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="bench")

    # Silence the benign WindowExec warning wall (VERDICT r10 #4),
    # SCOPED to bench runs: the plan-guard suite
    # (tests/test_plans.py) proves every unpartitioned window in the
    # catalog sits over a bounded (≤k-row / aggregated / LIMITed)
    # input, so the per-task warning is pure noise that buries real
    # signal in the driver's bench log tail.  Engine/library code
    # never touches log levels.
    try:
        jvm = spark.sparkContext._jvm
        _Configurator = jvm.org.apache.logging.log4j.core.config.Configurator
        _Level = jvm.org.apache.logging.log4j.Level
        for _cls in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.window.WindowExecBase",
        ):
            _Configurator.setLevel(_cls, _Level.ERROR)
    except Exception as e:  # log cosmetics only — never fail the bench
        print(f"# window-warning filter skipped: {e}", file=sys.stderr)

    queries = entry_mod.queries()

    # Warm the JVM (codegen, shuffle machinery, noop sink, AQE) with
    # tiny representative queries at sf0.001 so the measured numbers
    # reflect steady-state engine time, not first-query JIT compilation.
    warm_sf = "/root/testdata/sf0.001"
    # include the heavy HOF/ML shapes: their codegen'd expression
    # trees (shingling, minhash folds, cosine HOFs) take seconds to
    # JIT-compile, which would otherwise land inside the first
    # measured run (observed: 12 s cold vs 2 s steady-state for
    # dedup_ngram_jaccard_pairs at sf0.1)
    # every headline query gets a warm pass: JIT/codegen of ANY query's
    # generated class happening inside the measured window shows up as
    # a multi-second stall that best-of-N cannot remove (observed:
    # text_quality_scores 6.0 s on BOTH attempts when cold vs 0.35 s
    # warmed — Janino + C2 compile of its regex-heavy stage).
    # band4 warms too (round 9): its ANN/sketch/curation codegen is the
    # heaviest to JIT, and with attempts=1 a cold first run lands the
    # compile stall inside the measured window.  Warm runs at sf0.001
    # rebuild their own tiny /tmp state (md5(sf_dir)-tagged), so the
    # measured sf0.1 state is untouched.  Band3 stays deliberately
    # unwarmed — its entries measure the commit path end-to-end.
    for wname in HEADLINE + BAND2 + BAND4:
        wfn = queries.get(wname)
        if wfn is not None:
            wfn(spark, warm_sf).write.format("noop").mode("overwrite").save()
    # re-point the cached views at the measured scale factor
    from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources import (
        registry as _registry,
    )

    _registry._VIEW_CACHE.clear()
    _registry.register_parquet_views(spark, sf_dir)

    def run_band(band: list[str], attempts: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in band:
            fn = queries.get(name)
            if fn is None:
                continue
            # isolate entries: operators persist() their reused tables
            # (signature/shingle frames) and never unpersist — the
            # accumulated storage causes GC churn in later timings.
            spark.catalog.clearCache()
            # flatten GC debt from the previous query's freed cache
            # blocks outside the measured window.
            spark.sparkContext._jvm.System.gc()
            # best-of-N: the first execution of a plan at a new scale
            # pays one-off costs (page cache, codegen at size, shuffle
            # setup) that are 3-4x steady state; the fastest run is
            # the engine-time signal.
            best = None
            for _attempt in range(attempts):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                # noop sink: materializes every output row/column
                # without driver-side collection and without letting
                # count() prune the projection (the standard Spark
                # benching sink).
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
            print(f"# {name}: {out[name]}s", file=sys.stderr)
        return out

    timings = run_band(HEADLINE, attempts=3)
    band2 = run_band(BAND2, attempts=2)
    band3 = run_band(BAND3, attempts=1)
    band4 = run_band(BAND4, attempts=1)

    # Stage breakdown for the flagship composition (it chains the two
    # hottest operators): dedup alone vs the full dedup+quality+split.
    breakdown: dict[str, float] = {}
    try:
        from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.operators.dedup import (
            drop_near_duplicates,
        )
        from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.query_catalog_ml import (
            JACCARD_THRESHOLD,
            MINHASH_BANDS,
            MINHASH_HASHES,
            SHINGLE_N,
        )
        from platform_to_migrate_sap_sybaseiq_to_datalake_on_aws_with_fine_grained_control_spark.sources.registry import (
            load_table,
        )

        t0 = time.perf_counter()
        drop_near_duplicates(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            num_hashes=MINHASH_HASHES, bands=MINHASH_BANDS,
            shingle_n=SHINGLE_N, threshold=JACCARD_THRESHOLD,
        ).write.format("noop").mode("overwrite").save()
        dedup_t = round(time.perf_counter() - t0, 3)
        breakdown["curate_training_corpus/dedup"] = dedup_t
        full = timings.get("curate_training_corpus")
        # the derived stage time is only meaningful when both measures
        # ran against the same cache state (dedup re-measured here may
        # rebuild a plan the headline run had cached)
        if full is not None and dedup_t <= full:
            breakdown["curate_training_corpus/quality_split"] = round(
                full - dedup_t, 3
            )
    except Exception as e:  # breakdown is diagnostics, never fails the bench
        print(f"# breakdown skipped: {e}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    cpus = default_parallelism()
    vs_idle, vs_idle_basis = idle_ratios(
        _read_idle(),
        cpus,
        sf_val,
        {"headline": timings, "band2": band2, "band3": band3, "band4": band4},
    )
    try:
        loadavg_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover — platform without getloadavg
        loadavg_end = None
    # the START reading is the host-idleness signal (the end reading
    # mostly reflects the bench's own 32 threads)
    loadavg = {"start": loadavg_start, "end": loadavg_end}

    # Full per-query detail goes to a FILE (VERDICT r8 item 1: the
    # single mega-line overflowed the driver's stdout tail capture and
    # the r8 headline was lost).  Stdout carries ONE compact final line
    # — headline value + per-query headline timings + per-band totals —
    # that stays well inside any tail window.
    full = {
        "metric": "headline_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "band2": {
            "metric": "analytics_stats_wall_clock",
            "value": round(sum(band2.values()), 3),
            "unit": "sec",
            "queries": band2,
        },
        "band3": {
            "metric": "acid_commit_path_wall_clock",
            "value": round(sum(band3.values()), 3),
            "unit": "sec",
            "queries": band3,
        },
        "band4": {
            "metric": "ann_sketch_curation_wall_clock",
            "value": round(sum(band4.values()), 3),
            "unit": "sec",
            "queries": band4,
        },
        "breakdown": breakdown,
        "sf": sf_val,
        "cpus": cpus,
        "loadavg": loadavg,
        "vs_idle": vs_idle,
        "vs_idle_basis": vs_idle_basis,
    }
    full_path = os.path.join(REPO_ROOT, "BENCH_full.json")
    try:
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"# full per-query detail: {full_path}", file=sys.stderr)
    except OSError as e:  # detail file is best-effort, never fails bench
        print(f"# BENCH_full.json write skipped: {e}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "band2_total": round(sum(band2.values()), 3),
                "band3_total": round(sum(band3.values()), 3),
                "band4_total": round(sum(band4.values()), 3),
                "vs_idle": vs_idle,
                "sf": sf_val,
                "cpus": cpus,
                "loadavg": loadavg,
                "detail": "BENCH_full.json",
            }
        )
    )


if __name__ == "__main__":
    main()
