"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output: one short JSON line per query ({"query": name, "sec": s}), then a
FINAL compact JSON summary line {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {<§2 parity queries>: sec}, "sf": ...} sized to
survive bounded tail capture; the full per-query payload is also written
to BENCH_DETAIL.json beside this script.

Execution is forced with the `noop` datasource write (full pipeline runs,
nothing is collected to the driver), matching how a cluster job would
materialize results to a sink rather than the driver.

Methodology: one warmup pass over every headline query (its per-query
seconds go to BENCH_DETAIL.json's "warmup", outside the total), then
THREE timed steady-state passes reporting the per-query minimum.  At
sf0.1 a complex plan's wall time is dominated by one-time whole-stage-
codegen *compilation* (measured ~4s for a 60-aggregate plan whose
execution is 0.5s); on the 100 TB target deployment that compile cost
amortizes to zero, so steady-state is the representative number, and
the min-of-3 damps scheduler/GC noise on a shared host.  All DataFrame
caches are dropped between passes — every timed run re-executes the
full scan/shuffle/join path from parquet, reusing only JIT-compiled
code.

`bench_sf` (the loop), `run_entry` (one noop-sink run) and `session`
(the session set-up) are the only timing code: the tools under tools/
that run registry entries import them (`tools/perfex.py` times a named
subset, which is how two checkouts are A/B-compared).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.catalog import DEFAULT_SF_DIR
from trainee_scala_module_8_kafka_streaming_etl_pipeline_spark.session import build_session

SF_DIR = os.path.abspath(DEFAULT_SF_DIR)

# Representative slice of SURVEY.md §2 + LLM-pipeline operators: the
# flagship CDC->join->compaction plan, the heavy joins/aggs over events,
# and the scale-sensitive dedup/similarity/text operators over documents
# and embeddings.
HEADLINE = [
    "flagship_shipped_orders",
    "latest_by_offset",
    "stream_table_enrich",
    "interval_join_bucketed",
    "asof_join",
    "agg_summary",
    "top_revenue_orders",
    "regional_supplier_volume",
    "windowed_agg_tumbling",
    "topn_per_group",
    "large_order_customers",
    "returned_item_customers",
    "user_retention",
    "dedup_exact",
    "minhash_near_dups",
    "simhash_near_dups",
    "text_stats",
    "repetition_stats",
    "tfidf_top_terms",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "embedding_neardup",
    "ngram_jaccard",
    "corpus_clean",
    "shard_pack",
    "hopping_agg",
    "hll_cardinality",
    "cms_heavy_hitters",
    "multimodal_chunks",
    "boilerplate_ngrams",
    "bigram_lm_score",
    "kmeans_embeddings",
    "sole_blame_supplier",
    "bloom_semi_join",
    "triangle_count",
    "ohlc_bars",
    "time_weighted_avg",
    "zorder_clustering",
    "value_trend_regression",
    "session_outage_overlap",
    "mad_outliers",
    "dedup_keep_best",
    "pagerank_3iter",
    "attribution_last_touch",
    "time_grain_rollup",
    "dup_ngram_coverage",
    "corr_matrix",
    "sequence_pack",
    "corpus_build_pipeline",
    "cohort_matrix",
    "skew_audit",
    "content_chunk_dedup",
    "streaming_interval_join",
    "streaming_cdc_upsert",
    "streaming_flagship_golden",
    "streaming_hll",
    "gopher_quality_filter",
    "semantic_decontaminate",
    "psi_drift",
    "weighted_sample_topk",
    "ewma_smooth",
    "dow_seasonality",
    "streaming_event_transitions",
    "streaming_interarrival",
    "kcore_peel",
    "ann_pq_topk",
    "temperature_mixture",
    "hll_rollup_pyramid",
    "containment_near_dups",
    "ngram_novelty",
    "hard_negative_mining",
    "rfm_segments",
    "out_of_order_audit",
    "hll_sliding_dau",
    "streaming_funnel",
    "streaming_scd2",
    # round 5 additions
    "multimodal_decode_raw",
    "avro_roundtrip",
    "streaming_avro_topic",
    "streaming_pull_query",
    # round 4 additions
    "ann_ivf_pq_topk",
    "embedding_similarity_histogram",
    "length_drift_by_source",
    "lang_id_eval",
    "streaming_restart_resume",
    "bm25_topk",
    "dedup_cluster_size_histogram",
    "streaming_bm25",
    "ann_rank_fusion",
    "streaming_embedding_dedup",
    "embedding_lsh_recall_eval",
    "ltv_cohort_curve",
    "ship_lag_percentiles",
    "cluster_aware_split",
    "source_quality_report",
    "shard_balance_audit",
    "theil_sen_trend",
    "doc_chunk_split",
    "streaming_cohort_matrix",
    "streaming_ltv_curve",
    # round 6 additions
    "avro_schema_evolution",
    "streaming_avro_evolution",
    # round 7 additions
    "streaming_avro_tombstone",
    "avro_logical_types",
    "avro_ocf_roundtrip",
    # round 8 additions
    "streaming_avro_ocf",
]


def session(app_name: str, extra_conf: dict[str, str] | None = None):
    """The session every tool that runs registry entries uses: the
    engine's ``build_session`` with this harness's driver heap and log
    level.  Spark starts with the working directory at this checkout's
    root: Python workers put their working directory first on
    ``sys.path``, so a run started elsewhere (an A/B from an archived
    copy, with the working directory in another checkout) would have its
    workers import that other checkout's package."""
    os.chdir(ROOT)
    spark = build_session(
        app_name=app_name,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            **(extra_conf or {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run_entry(spark, fn, sf_dir: str) -> float:
    """Run registry entry ``fn`` at ``sf_dir`` into the ``noop`` sink (the
    whole plan executes, nothing is collected to the driver) and return
    its wall seconds.  A forced full GC runs first, outside the timer:
    it keeps one query's garbage from being collected (and billed)
    inside the next query's wall time — per-query attribution noise
    otherwise reaches 2x on a shared host."""
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def bench_sf(
    spark, sf_dir: str, passes: int, names: list[str] = HEADLINE
) -> tuple[dict[str, float], dict[str, str], dict[str, float]]:
    """One warmup pass + ``passes`` timed passes over ``names`` at
    ``sf_dir``; returns (per-query min-of-passes, failures, per-query
    warmup seconds).  Names missing from the registry are skipped."""
    qs = entrymod.queries()
    failures: dict[str, str] = {}

    def run_one(name: str) -> float | None:
        """Time one query; a single broken query must not take down the
        whole bench artifact."""
        fn = qs.get(name)
        if fn is None:
            return None
        try:
            return round(run_entry(spark, fn, sf_dir), 3)
        except Exception as exc:  # noqa: BLE001 - record and continue
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            return None

    # Warmup pass, outside the result: compiles every plan's whole-stage
    # codegen, warms parquet footer/file-listing caches and the JVM JIT,
    # and builds the indexes `_stage_memo` keeps — its seconds are
    # reported on their own.
    warmup: dict[str, float] = {}
    for name in names:
        elapsed = run_one(name)
        if elapsed is not None:
            warmup[name] = elapsed
    # Drop any DataFrame caches the operators created so the timed pass
    # re-executes the full data path from parquet.
    spark.catalog.clearCache()

    timings: dict[str, float] = {}
    for _ in range(passes):
        for name in names:
            if name in failures:
                continue
            elapsed = run_one(name)
            if elapsed is not None:
                timings[name] = min(timings.get(name, elapsed), elapsed)
        spark.catalog.clearCache()
    return timings, failures, warmup


SECONDARY_SF = "/root/testdata/sf0.01"

# Host-noise canary: cross-hour campaign totals on this shared host have
# drifted ~20% with zero plan changes (SCALING.md), so every campaign
# measures a fixed single-core numpy workload (sort + reduce over a
# seeded 60M-float64 array — CPU *and* memory-bandwidth sensitive,
# Spark-independent) before and after the Spark runs.  A campaign is
# flagged comparable_to_prior only when its canary is within 10% of the
# canary recorded in the previous BENCH_DETAIL.json; outside that band,
# total-vs-total deltas measure the host, not the code.
_CANARY_TOL = 1.10


def canary_sec(passes: int = 3) -> float:
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.random(60_000_000)  # ~480 MB: big enough to probe bandwidth,
    # and ~1s/pass so scheduler jitter stays well under the 10% band
    best = float("inf")
    for _ in range(passes):
        t0 = time.perf_counter()
        np.sort(a)  # numpy is eager; the sorted copy itself is the work
        float(a.sum())
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def main() -> int:
    sf_dir = SF_DIR
    spark = session("bench")

    detail_path = os.path.join(ROOT, "BENCH_DETAIL.json")
    # Comparability baseline: the canary of the last COMPARABLE run
    # ("baseline_sec"), not merely the previous run's reading — each run
    # overwrites BENCH_DETAIL.json, so comparing against the immediate
    # prior would let the baseline drift run-over-run through a noisy
    # campaign (three successive 9%-slower runs would each read
    # "comparable" while the host degraded 30% overall).  A run that IS
    # comparable advances the baseline to its own canary; a flagged run
    # carries the old baseline forward untouched.
    prior_canary = None
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                prior = json.load(fh).get("canary", {})
                prior_canary = prior.get("baseline_sec", prior.get("sec"))
        except Exception:  # noqa: BLE001 - a corrupt prior detail is not fatal
            prior_canary = None

    canary_start = canary_sec()
    timings, failures, warmup = bench_sf(spark, sf_dir, passes=3)

    canary_end = canary_sec()
    canary = min(canary_start, canary_end)
    comparable = (
        prior_canary is not None
        and max(canary, prior_canary) / min(canary, prior_canary)
        <= _CANARY_TOL
    )
    baseline = canary if (comparable or prior_canary is None) else prior_canary

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warmup": warmup,
        "sf": sf_dir,
        "canary": {
            "sec": canary,
            "start_sec": canary_start,
            "end_sec": canary_end,
            "prior_sec": prior_canary,
            "baseline_sec": baseline,
            "comparable_to_prior": comparable,
            "rule": (
                "single-core numpy sort+sum canary (min-of-3, before and"
                " after the campaign); totals are A/B-comparable only"
                " when this run's canary is within"
                f" {round((_CANARY_TOL - 1) * 100)}% of baseline_sec —"
                " the canary of the last comparable run, carried forward"
                " unchanged through flagged runs so the baseline cannot"
                " drift through a noisy campaign"
            ),
        },
    }
    if failures:
        payload["failures"] = failures

    # Secondary scale point (min-of-2, cheap at sf0.01): having both
    # sfs in one artifact lets the sf0.01 -> sf0.1 scaling ratio
    # regenerate every round without a separate campaign — the slope,
    # not the absolute numbers, is what validates 100x headroom.
    if os.path.isdir(SECONDARY_SF) and os.path.realpath(
        SECONDARY_SF
    ) != os.path.realpath(sf_dir):
        sec_timings, sec_failures, sec_warmup = bench_sf(spark, SECONDARY_SF, passes=2)
        ratios = {
            k: round(timings[k] / v, 2)
            for k, v in sec_timings.items()
            if k in timings and v > 0
        }
        payload["secondary"] = {
            "sf": SECONDARY_SF,
            "queries": sec_timings,
            "failures": sec_failures,
            "warmup": sec_warmup,
            "primary_over_secondary_ratio": ratios,
        }

    # Downstream tooling captures a bounded tail of stdout and parses the
    # last JSON line; one line per query keeps each line short, and the
    # full payload also lands in BENCH_DETAIL.json next to this script.
    with open(detail_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    for name, sec in timings.items():
        print(json.dumps({"query": name, "sec": sec}))
    for name, err in failures.items():
        print(json.dumps({"query": name, "error": err}))

    # FINAL line: the machine-readable summary, kept compact (headline
    # total + the four SURVEY §2 parity queries, PLUS — round 12 — three
    # multi-second compute-bound entries so the driver's low-core vs
    # high-core scaling probe measures executor compute rather than
    # per-query driver overhead; the original four are all sub-second at
    # sf0.1 and their 8-vs-32-core ratios were flat for that reason).
    # Additions only: the frozen HEADLINE list and the existing parity
    # keys are untouched.
    parity = {
        k: timings[k]
        for k in (
            "flagship_shipped_orders",
            "latest_by_offset",
            "stream_table_enrich",
            "interval_join_bucketed",
            "triangle_count",
            "pagerank_3iter",
            "corpus_clean",
        )
        if k in timings
    }
    summary = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": parity,
        "n_queries": len(timings),
        "n_failures": len(failures),
        "detail": "BENCH_DETAIL.json",
        "sf": sf_dir,
        "canary_sec": canary,
        "comparable_to_prior": comparable,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
