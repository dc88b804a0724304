#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.  Prints the full per-query timing map as
one JSON line, then a compact final JSON line
``{"metric": "headline_queries_total", "value": N, "unit": "sec",
"n_queries": K, "sf": ...}`` — the final line is what the driver's
bounded tail capture parses (the one-line-with-full-map format outgrew
the 2,000-char capture at 94 queries and cost round 4 its official
bench number).

Each query is fully materialized via a count-collect (not collect of all
rows — the driver measures engine time, not driver-transfer time... but
to be faithful to "produce the result", we collect the final rows, which
for these aggregate/top-k queries is small).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Entries deliberately NOT benched, with machine-readable reasons —
# empty today: since round 7 the headline set is the ENTIRE catalog
# (derived from the registry at runtime, so a new catalog entry can
# never be silently unbenched).  If an entry ever has to be excluded
# (e.g. a deliberately-pathological demo), it goes here and the
# exclusion ships in the bench detail line.
EXCLUDED: dict[str, str] = {}

# Kept for ordering stability of the long-lived per-query history:
# the r1-r6 headline set runs FIRST in its historical order, then every
# remaining catalog entry in registration order.
HEADLINE = [
    # TPC-H-ish relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q7_volume_shipping",
    "q9_pseudo_profit",
    "q17_small_quantity",
    "q18_large_volume",
    "q19_disjunctive_revenue",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q12_priority_by_delay",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    # operator coverage
    "filter_calculate",
    "aggregate_reducers",
    "pivot_linestatus",
    "rank_running_total",
    "join_left_aggregate",
    # events / time-series
    "events_hourly_rollup",
    "events_sessionize",
    "events_daily_from_hourly",
    "events_sliding_rollup",
    "events_gapfill_hourly",
    "events_user_retention",
    "events_funnel",
    "asof_purchase_click",
    "range_join_error_views",
    "interval_join_error_bursts",
    "events_anomaly_zscore",
    # LLM-pipeline: dedup
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "winnow_overlap",
    "dedup_incremental",
    "dedup_keep_best",
    # LLM-pipeline: text analysis
    "text_langid",
    "text_quality",
    "text_repetition",
    "text_tfidf_topterms",
    "text_char_entropy",
    "decontaminate_ngram",
    "pipeline_curation_summary",
    "tokenize_vocab_ids",
    "pack_sequences",
    "chunk_documents_rag",
    "split_assign",
    "mixture_drift_kl",
    "dedup_containment",
    "quality_robust_stats",
    "langid_confusion",
    "corr_matrix",
    "text_lm_score",
    "percentiles_exact",
    # LLM-pipeline: similarity search
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_pq",
    "embedding_near_pairs",
    # round-4 additions
    "decontaminate_bloom",
    "ann_topk_quantized",
    "bpe_train_merges",
    "multimodal_png_real",
    "multimodal_wav_real",
    "mutable_dml_roundtrip",
    "agg_skew_kurtosis",
    "cube_revenue",
    "agg_mode_mad",
    "bucketed_join_revenue",
    "mixture_temperature",
    "source_roundtrip_formats",
    "bpe_apply_tokenize",
    "mutable_time_travel",
    "mutable_schema_evolution",
    "ann_topk_filtered",
    "hybrid_search_rrf",
    "dedup_prefix_filter_exact",
    "multimodal_y4m_real",
    "mutable_cdc_merge",
    "mutable_streaming_merge",
    "agg_kmv_distinct",
    "sample_bottomk",
    "partitioned_write_prune",
    "dedup_lsh_recall",
    "events_kmv_hourly",
    "asof_tolerance_stale",
    "events_stream_static_enrich",
    "join_full_outer",
    "events_moving_avg_range",
    "validate_rules",
    "mutable_change_feed",
    "grouping_sets_margins",
    "events_kmv_streamed",
    "events_sessionize_dynamic",
    # round-6 additions
    "text_pii_redact",
    "ann_topk_ivfpq",
    "embedding_decontaminate",
    "fuzzy_link_names",
    "dedup_duplicate_spans",
    "training_shuffle_shards",
    "dedup_span_masking",
    "training_shuffle_global",
    # mergeable sketches + graph/weighted-sample tier
    "agg_countmin_freq",
    "agg_hll_distinct",
    "agg_hdr_quantiles",
    "sample_weighted",
    "graph_pagerank",
    "events_countmin_streamed",
    "rank_running_distinct",
    "graph_triangle_counts",
    "sample_weighted_stratified",
    "events_hdr_streamed",
    "profile_join_cardinality",
    "agg_kmv_overlap",
    "events_transition_matrix",
]


def _load_ok() -> bool:
    """Pre-flight contention check: the box shows ±30-45% same-code
    swings when another JVM shares local[32] (a measured 23× per-stage
    distortion in round 4).  Flag — don't refuse, the driver's run must
    still produce a number — so readers can discount a noisy total."""
    try:
        import subprocess

        out = subprocess.run(
            ["pgrep", "-c", "-f", "java.*spark"], capture_output=True, text=True
        ).stdout.strip()
        # sampled before get_spark(): any match is a FOREIGN Spark JVM
        other_jvms = int(out or 0)
    except Exception:
        other_jvms = 0
    load1 = os.getloadavg()[0]
    ncpu = os.cpu_count() or 1
    ok = other_jvms == 0 and load1 < 0.5 * ncpu
    if not ok:
        print(
            f"# WARNING: box not quiet (spark_jvms={other_jvms}, "
            f"load1={load1:.1f}/{ncpu}cpu) — timings may swing ±45%",
            file=sys.stderr,
        )
    return ok


def _regression_report(detail: dict, here: str, rnd: int, cpus: str) -> None:
    """Mechanized per-query regression diff (VERDICT r9 item 4): compare
    the fresh detail map against the newest OLDER committed
    BENCH_DETAIL_r*.json and print every entry >2x slower, with both
    runs' spreads, so the round-over-round comparison the judge did by
    hand happens at bench time.  Entries whose delta is within the sum
    of the two recorded spreads are flagged as noise-explainable.
    Informational only — never fails the bench.

    Detail files are named ``BENCH_DETAIL_rNN_cNN.json``, keying the
    core count into the name (VERDICT r14 item 2 — same-round runs at
    different core counts used to overwrite each other's per-query map).
    Prefer a prior detail at the SAME core count (core-sensitive entries
    are only comparable like-for-like); fall back to the newest prior
    round's detail at another core count."""
    import glob

    prior = sorted(
        (int(m.group(1)), m.group(2) == cpus, p)
        for p in glob.glob(os.path.join(here, "BENCH_DETAIL_r*_c*.json"))
        if (m := re.search(r"_r(\d+)_c(\w+)\.json$", p)) and int(m.group(1)) < rnd
    )
    if not prior:
        return
    newest_rnd = prior[-1][0]
    newest = [t for t in prior if t[0] == newest_rnd]
    # same-cpus detail wins within the newest prior round
    prev_rnd, _, prev_path = sorted(newest, key=lambda t: t[1])[-1]
    try:
        with open(prev_path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return
    regressions = []
    for name, t_new in detail["queries"].items():
        t_old = prev.get("queries", {}).get(name)
        if t_old is None or t_old <= 0 or t_new <= 2.0 * t_old:
            continue
        s_new = detail.get("spread", {}).get(name) or 0.0
        s_old = prev.get("spread", {}).get(name) or 0.0
        regressions.append(
            {
                "query": name,
                f"r{prev_rnd:02d}_sec": t_old,
                f"r{rnd:02d}_sec": t_new,
                "ratio": round(t_new / t_old, 2),
                "spread_old": s_old,
                "spread_new": s_new,
                "noise_explainable": (t_new - t_old) <= (s_new + s_old),
            }
        )
    if regressions:
        regressions.sort(key=lambda r: -r["ratio"])
        print(
            json.dumps(
                {
                    "metric": "bench_regressions_vs_last_detail",
                    "baseline": os.path.basename(prev_path),
                    "regressions": regressions,
                }
            ),
            file=sys.stderr,
        )
    else:
        print(
            f"# no per-query regressions >2x vs {os.path.basename(prev_path)}",
            file=sys.stderr,
        )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    load_ok = _load_ok()  # sample BEFORE our own JVM inflates the load

    from warp_spark import get_spark
    from warp_spark.catalog import QUERIES

    spark = get_spark("warp-spark-bench")
    # Warm up every query shape at the smallest SF first: the first use of
    # each physical operator pays a one-time JVM codegen/classload cost
    # (~5-15s) that is irrelevant to steady-state engine throughput.
    # Bench the FULL catalog: the historical headline order first (keeps
    # the r1-r6 per-query timing history comparable), then every other
    # registered entry, minus the (currently empty) EXCLUDED manifest.
    names = [n for n in HEADLINE if n in QUERIES and n not in EXCLUDED]
    names += [n for n in QUERIES if n not in set(names) and n not in EXCLUDED]
    for name in names:
        try:
            QUERIES[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    # best-of-2, ROUND-ROBIN: the box shows bursty hypervisor steal time
    # (multi-second stalls invisible to guest load). Consecutive repeats
    # of one query can all land inside a burst; interleaving rounds
    # decorrelates bursts from queries, so the per-query min reflects
    # true engine time.  (Was best-of-3 through r6 at 115 queries; the
    # full-catalog set holds total timed executions at the same level —
    # 2×184 ≈ 3×115 — so the wall budget the driver's capture window
    # has always tolerated is unchanged.)
    reps = 2
    samples: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(reps):
        for name in names:
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            # noop sink: full engine-side materialization of every output
            # row (count() would let Catalyst prune computed columns away;
            # collect() would measure Python driver transfer, not engine)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.time() - t0)
    timings = {name: round(min(ts), 3) for name, ts in samples.items()}
    # per-query spread (second_best − best): lets future rounds separate
    # regression from box noise without re-running — a query whose best
    # moved less than its recorded spread is within the noise floor
    spread = {
        name: round(sorted(ts)[1] - min(ts), 3) if len(ts) > 1 else None
        for name, ts in samples.items()
    }

    total = round(sum(timings.values()), 3)
    # The driver captures only the last ~2,000 chars of stdout; at 94
    # queries the full per-query map no longer fits on one line (this is
    # why BENCH_r04.json came back ``parsed: null``).  Print the
    # detailed map FIRST (for humans / logs), then a compact final line
    # that stays well under the capture window at any query count.
    # core count for the detail artifact name + JSON (VERDICT r14
    # item 2): the driver benches the same round at two core counts,
    # and a cpus-less filename made the second run overwrite the first
    # run's per-query map.  Sanitize to a filename-safe token.
    cpus_token = re.sub(
        r"\W", "", os.environ.get("SPARK_GRAFT_CPUS", "") or ""
    ) or str(os.cpu_count() or 0)
    detail = {
        "metric": "headline_queries_detail",
        "queries": timings,
        # best-of-N protocol marker: r1-r6 history is best-of-3,
        # r7+ is best-of-2 (weaker min-noise floor — account for
        # it when comparing per-query history)
        "best_of": reps,
        "spread": spread,
        "excluded": EXCLUDED,
        "sf": sf,
        "cpus": cpus_token,
        "load_ok": load_ok,
    }
    print(json.dumps(detail))
    # Persist the FULL detail map to a committed artifact so
    # round-over-round per-query comparison never depends on the
    # driver's bounded tail capture (VERDICT r8 item 5).  Round number
    # = latest judged round + 1 (the driver benches round N while
    # CORRECTNESS_r{N-1} is the newest snapshot on disk).
    try:
        import glob

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
            if (m := re.search(r"_r(\d+)\.json$", p))
        ]
        rnd = (max(rounds) + 1) if rounds else 0
        with open(
            os.path.join(here, f"BENCH_DETAIL_r{rnd:02d}_c{cpus_token}.json"), "w"
        ) as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        _regression_report(detail, here, rnd, cpus_token)
    except OSError:
        pass  # a read-only checkout must not fail the bench itself
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "best_of": reps,
                "n_queries": len(timings),
                "sf": sf,
                "cpus": cpus_token,
                "load_ok": load_ok,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
