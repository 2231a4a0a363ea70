"""Bench harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Headline set spans the engine surface: scan-heavy agg (flagship), multi-way
join, broadcast join, analytic window, event-time window, top-N, MinHash
LSH dedup, cosine top-k, and the text-stats profiling pass. Results land on
a noop sink so timings measure execution, not driver transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_agg_group",
    "q_filter_pred",
    "q_join_broadcast",
    "q_join_multi",
    "q_join_asof",
    "q_join_salted",
    "q_agg_quantile_approx",
    "q_window_rank",
    "q_topk_per_group",
    "q_sort_limit",
    "q_tumbling_window",
    "q_session_window",
    "q_dedup_near",
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_embedding_fast",
    "q_similarity_cosine",
    "q_similarity_ann",
    "q_similarity_pq",
    "q_knn_graph",
    "q_bpe_merges",
    "q_bpe_encode",
    "q_text_stats",
    "q_decontaminate",
    "q_repetition_score",
    "q_domain_mix",
    "q_boilerplate_prefix",
    "q_dedup_cross_source",
    "q_dedup_incremental",
    "q_profile_stats",
    "q_histogram",
    "q_length_deciles",
    "q_upsert_latest",
    "q_upsert_cdc",
    "q_embed_quantize",
    "q_join_fuzzy",
    "q_outliers",
    "q_vocab_topk",
    "q_tfidf_topterms",
    "q_funnel",
    "q_cohort_retention",
    "q_sessionize",
    "q_pattern_sequence",
    "q_pattern_sequence_strict",
    "q_pattern_absence",
    "q_changepoint_cusum",
    "q_attribution_linear",
    "q_unigram_logprob",
    "q_bm25_topterms",
    "q_inverted_index",
    "q_bigram_pmi",
    "q_zipf_slope",
    "q_anomaly_mad",
    "q_source_drift",
    "q_dedup_chunks",
    "q_token_entropy",
    "q_ngram_novelty",
    "q_winsorize",
    "q_skew_profile",
    "q_resample_ffill",
    "q_embed_norm_profile",
    "q_multimodal_dedup",
    "q_scd2_runs",
    "q_heavy_hitters",
    "q_join_asof_tolerance",
    "q_curation_pipeline",
    "q_fingerprint",
    "q_fingerprint_fast",
    "q_pack_sequences",
    "q_chunk_tokens",
    "q_tpch_q3_shape",
    "q_tpch_q5_shape",
    "q_tpch_q10_shape",
    "q_pattern_quantified",
    "q_dedup_containment",
    "q_bigram_logprob",
    "q_quantile_rollup",
    "q_semdedup",
    "q_sample_cluster_balanced",
    "q_decontaminate_spans",
    "q_sample_temperature",
    "q_filter_funnel",
    "q_perplexity_filter",
    "q_join_bloom",
    "q_tpch_q18_shape",
    "q_similarity_join_fast",
    "q_token_budget",
    "q_quality_classifier",
    "q_classifier_funnel",
    "q_unigram_tokenizer",
    "q_unigram_encode",
    "q_multimodal_phash",
    "q_bm25_query",
    "q_sample_epochs",
    "q_cms_rollup",
    "q_similarity_ivfpq",
    "q_bitmap_rollup",
    "q_dedup_embedding_auto",
    "q_knn_graph_auto",
    "q_dedup_incremental_near",
    "q_frequent_itemsets",
    "q_frequent_sequences",
    "q_association_rules",
    "q_ewma_daily",
    "q_chi2_contingency",
    "q_triangle_count",
    "q_pagerank",
    "q_tpch_q21_shape",
    "q_tpch_q17_shape",
    "q_tpch_q22_shape",
    "q_communities_lpa",
    "q_quantile_rollup_kll",
    "q_classifier_train",
    "q_embed_pca",
    "q_bm25_indexed",
    "q_holt_trend",
    "q_dow_seasonal_anomaly",
    "q_sample_k_per_group",
    "q_abtest_ztest",
    "q_anova_f",
    "q_mannwhitney_u",
    "q_ks_test",
    "q_tpch_q4_shape",
    "q_tpch_q20_shape",
    "q_target_encoding",
    "q_feature_scale",
    "q_rrf_fusion",
    "q_term_jaccard",
    "q_autocorr",
    "q_gini_source",
    "q_dedup_canonical",
    "q_robust_scale",
    "q_bootstrap_ci",
    "q_tpch_q15_shape",
    "q_tpch_q2_shape",
    "q_target_encoding_oof",
    "q_cluster_profile",
    "q_tpch_q13_shape",
    "q_bootstrap_ci_fast",
    "q_cuped_adjust",
    "q_degree_assortativity",
    "q_fdr_bh",
    "q_seasonal_decompose",
    "q_tpch_q16_shape",
    "q_mutual_info",
    "q_tpch_q8_shape",
    "q_welch_ttest",
    "q_tpch_q6_shape",
    "q_tpch_q7_shape",
    "q_tpch_q9_shape",
    "q_tpch_q11_shape",
    "q_tpch_q12_shape",
    "q_tpch_q14_shape",
    "q_tpch_q19_shape",
    "q_kcore",
]

# Deliberately-slow oracle references: the oracle-exact forms of keys
# whose production twin is faster by construction. Timed and recorded
# with a ratio vs their production twin, but EXCLUDED from the headline
# total so real regressions aren't buried under a query that is
# supposed to be slow.
GUARD = {
    # guard key -> production twin whose median it is compared against
    # the oracle-exact HOF embedding form: bit-identical DuckDB mirror,
    # 6x+ the per-bucket matmul production kernel by construction
    # (per-pair interpreted confirm over the quadratic candidate volume)
    "q_dedup_embedding": "q_dedup_embedding_fast",
    # oracle-exact HOF banding for the cross-corpus join (same rule)
    "q_similarity_join": "q_similarity_join_fast",
}

# Keys whose first execution BUILDS a persisted/cached index (bucketed
# ledger tables, IVF/PQ index dirs, BM25 postings persist) that later
# executions serve from. These get ONE untimed warm-up pass so the timed
# median measures the SERVING path on every host — the r12 driver bench
# flagged q_dedup_incremental_near (2.91 s) and q_bm25_indexed (1.17 s)
# when their cold build landed inside the 3-sample median window, while
# this host's runs amortized it; the judge's prescription was "either
# pre-build in the bench warm-up explicitly or bar the cold number".
# The cold number stays visible: each key's build pass is recorded as
# cold_build_s in the artifact.
INDEX_BACKED = [
    "q_bm25_indexed",
    "q_dedup_incremental",
    "q_dedup_incremental_near",
    "q_similarity_ann",
    "q_similarity_pq",
    "q_similarity_ivfpq",
]


def _epoch_calib() -> float:
    """Fixed pure-CPU workload (~1 s on a quiet host): its wall is a
    host-epoch marker recorded in every artifact, so 'the driver host
    was in a slow epoch' arbitration is data, not narrative (r13 judge
    directive 8). Same loop every run — only the host varies."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    assert x > 0
    return round(time.perf_counter() - t0, 3)


def _calib_worker(_: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    assert x > 0
    return time.perf_counter() - t0


_MC_PROBE_N = 8


def _epoch_calib_mc(n: int = _MC_PROBE_N) -> dict | None:
    """Multi-core epoch probe (r16 judge item 1b): the single-thread
    probe measured 0.609–0.715 s across runs whose MULTI-core
    throughput differed by 2x+ — it cannot detect effective-core
    collapse (host CPU steal/overcommit), which was the r16 confound.
    Run the same pure-CPU loop in ``n`` concurrent processes: on an
    uncontended host wall ~= the solo time and eff_cores ~= n; under
    core collapse wall stretches and eff_cores = n*solo/wall drops.
    ~1 s total; runs outside every timed region.

    The pool is spawned, not forked: forking a process with live py4j
    threads can deadlock the child. Any probe failure returns None
    (recorded as null), so the probe can never lose the bench artifact."""
    import concurrent.futures
    import multiprocessing

    try:
        solo = _calib_worker(0)
        ctx = multiprocessing.get_context("spawn")
        with concurrent.futures.ProcessPoolExecutor(
            max_workers=n, mp_context=ctx
        ) as pool:
            # warm the pool so process startup stays outside the window
            list(pool.map(int, range(n)))
            t0 = time.perf_counter()
            list(pool.map(_calib_worker, range(n)))
            wall = time.perf_counter() - t0
    except Exception:  # noqa: BLE001 — a probe must not kill the bench
        import traceback

        print("# multi-core epoch probe failed:", file=sys.stderr)
        traceback.print_exc()
        return None
    return {
        "n": n,
        "solo_s": round(solo, 3),
        "wall_s": round(wall, 3),
        "eff_cores": round(n * solo / wall, 1) if wall > 0 else None,
    }


def _load_bars() -> dict[str, float]:
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "bench_bar.json"
    )
    try:
        with open(path) as f:
            return json.load(f)["bar"]
    except (OSError, KeyError, ValueError):
        return {}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as e
    from reactor_window_like_flink_spark.session import get_spark

    spark = get_spark(app_name="bench")
    qs = e.queries()

    calib_start = _epoch_calib()
    calib_mc_start = _epoch_calib_mc()
    print(
        f"# epoch calibration: {calib_start}s single,"
        f" {(calib_mc_start or {}).get('eff_cores')} effective cores"
        f" ({_MC_PROBE_N} procs)",
        file=sys.stderr,
    )

    # Coverage statement, in one place: every registered key NOT timed
    # here. These are the cheap scalar/relational/streaming-form keys
    # whose sf0.1 cost is dominated by fixed job overhead (a bar on
    # them would measure the scheduler, not the operator); the set is
    # recorded in the artifact so exclusions are visible, not implied.
    excluded = sorted(set(qs) - set(HEADLINE) - set(GUARD))

    # Warm-up: JVM JIT + parquet footer caches, outside the timed region.
    qs["q_scan_parquet"](spark, sf_dir).collect()

    # Untimed index builds (see INDEX_BACKED) — cold cost recorded.
    cold_build: dict[str, float] = {}
    for name in INDEX_BACKED:
        if name not in qs:
            continue
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        cold_build[name] = round(time.perf_counter() - t0, 3)
        print(f"# warmup {name}: {cold_build[name]}s (cold build)", file=sys.stderr)

    # Snapshot the index-build event log: any build that fires AFTER
    # this point happened inside the timed region — i.e. the warm-up's
    # index was lost (memo eviction, session restart, dropped tables)
    # and a timed sample silently paid a cold build. Recorded in the
    # artifact so the r13 q_dedup_incremental_near 3.54x arbitration
    # class is diagnosable from data (judge directive 1).
    from reactor_window_like_flink_spark.llm import index_events

    events_mark = len(index_events.EVENTS)

    times: dict[str, float] = {}
    spread: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    total = 0.0
    for name in HEADLINE:
        # median-of-3 with recorded spread: this VM's block-device timings
        # vary ±2x run-to-run, so a single sample (or best-of-2) can both
        # falsely fail and falsely pass the regression bar. All 3 samples
        # are recorded IN ORDER (r16 judge item 1c) so a contaminated
        # sample is identifiable from the artifact, not just inferable
        # from the spread.
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        all_samples[name] = [round(s, 3) for s in samples]
        samples = sorted(samples)
        times[name] = round(samples[1], 3)
        spread[name] = round(samples[-1] - samples[0], 3)
        total += times[name]
        print(
            f"# {name}: {times[name]}s (spread {spread[name]}s)", file=sys.stderr
        )

    guards: dict[str, float] = {}
    guard_ratio: dict[str, float] = {}
    for name, twin in GUARD.items():
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        guards[name] = round(samples[1], 3)
        if twin in times and times[twin] > 0:
            guard_ratio[name] = round(guards[name] / times[twin], 2)
        print(
            f"# guard {name}: {guards[name]}s"
            f" ({guard_ratio.get(name, '?')}x vs {twin})",
            file=sys.stderr,
        )

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    # vs-bar readout: per-key ratio against tools/bench_bar.json (the
    # 2x regression baseline), median ratio, and the >2x flag set.
    bars = _load_bars()
    ratios = {
        k: round(times[k] / bars[k], 2)
        for k in times
        if k in bars and bars[k] > 0
    }
    flags = {k: r for k, r in sorted(ratios.items()) if r > 2.0}
    rs = sorted(ratios.values())
    median_vs_bar = rs[len(rs) // 2] if rs else None

    payload = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "guards": guards,
        "guard_ratio": guard_ratio,
        "sf": sf,
        "config": {
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
            "n_queries": len(HEADLINE),
            "samples_per_query": 3,
        },
        "excluded_keys": excluded,
        "cold_build_s": cold_build,
        "samples": all_samples,
        "vs_bar": ratios,
        "median_vs_bar": median_vs_bar,
        "flags": flags,
        "index_builds_during_timed": index_events.since(events_mark),
        "epoch_calib_s": {"start": calib_start, "end": _epoch_calib()},
        "epoch_calib_mc": {"start": calib_mc_start, "end": _epoch_calib_mc()},
    }
    # Self-contained artifact: the driver's stdout-tail parse truncated 13
    # of 44 keys in round 4 (BENCH_r04.json parsed: null), so always write
    # the full result to disk too — medians are recoverable regardless of
    # stdout survival. Version-on-write (r13 judge directive 4): the
    # driver re-runs bench.py at round close AFTER the last commit, so
    # the prior run rotates to BENCH_LOCAL.prev.json instead of being
    # destroyed — both the builder validation run and the driver close
    # run stay inspectable. Neither file is tracked (see .gitignore);
    # the committed record is BENCH_VALIDATION_r{N}.json, and the
    # canonical cross-round number is the driver's BENCH_r{N}.json.
    here = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(here, "BENCH_LOCAL.json")
    if os.path.exists(out_path):
        os.replace(out_path, os.path.join(here, "BENCH_LOCAL.prev.json"))
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(json.dumps(payload))
    # LAST line = compact summary under the driver's 2000-char stdout
    # tail (r13 judge directive 3: every BENCH_rN.json since r04 had
    # parsed: null because the only JSON line outgrew the tail). The
    # full per-key map is one line up and in BENCH_LOCAL.json.
    print(compact_summary(payload))
    return 0


SUMMARY_MAX_CHARS = 1900  # driver tail window is 2000; leave margin
_SUMMARY_FLAG_CAP = 20  # worst realistic flag count is a few; cap hard


def compact_summary(payload: dict) -> str:
    """The bench's final stdout line: a JSON summary guaranteed to fit
    the driver's 2000-char tail window even in pathological runs (every
    key flagged). Contract pinned by tests/test_bench_contract.py.

    r17 (judge item 1a): the line now carries a ``queries`` map — the
    most expensive keys' medians, greedily added by descending cost
    until the budget is reached — so the driver's PERF per-query
    diff/geomean is computable from ground truth again (PERF_r16 had
    ``per_query: {}`` because this line omitted the map entirely). The
    FULL 155-key map (plus spread and all raw samples) stays one line
    up and in BENCH_LOCAL.json; ``n`` > len(queries) signals the
    by-cost truncation."""
    flags = payload.get("flags") or {}
    if len(flags) > _SUMMARY_FLAG_CAP:
        worst = dict(
            sorted(flags.items(), key=lambda kv: -kv[1])[:_SUMMARY_FLAG_CAP]
        )
        worst["...truncated"] = len(flags) - _SUMMARY_FLAG_CAP
        flags = worst
    mc = payload.get("epoch_calib_mc") or {}
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "n": len(payload.get("queries") or {}),
        "queries": {},
        "median_vs_bar": payload.get("median_vs_bar"),
        "flags": flags,
        "guard_ratio": payload.get("guard_ratio") or {},
        "timed_index_builds": len(
            payload.get("index_builds_during_timed") or []
        ),
        "epoch_calib_s": payload.get("epoch_calib_s"),
        "eff_cores": {
            side: (mc.get(side) or {}).get("eff_cores")
            for side in ("start", "end")
            if mc.get(side)
        },
        "queries_full": "BENCH_LOCAL.json",
    }
    # Greedy by-cost fill: most expensive keys first (they carry the
    # regression signal), each rounded to 2 dp, stop at the first key
    # that would overflow the tail budget.
    by_cost = sorted(
        (payload.get("queries") or {}).items(), key=lambda kv: (-kv[1], kv[0])
    )
    for key, sec in by_cost:
        summary["queries"][key] = round(sec, 2)
        if len(json.dumps(summary)) > SUMMARY_MAX_CHARS:
            del summary["queries"][key]
            break
    line = json.dumps(summary)
    assert len(line) <= SUMMARY_MAX_CHARS, len(line)
    return line


if __name__ == "__main__":
    raise SystemExit(main())
