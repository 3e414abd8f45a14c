"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion with a noop-style full materialization
(count via agg over all columns is avoided; we use the noop datasource so
results are produced but never collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyp_etl_pipeline_spark.driver_queries_ext import REGISTRY  # noqa: E402
from pyp_etl_pipeline_spark.session import get_spark  # noqa: E402

# Headline set: covers scan/agg, join+band rollup, window fns, the blocked
# fuzzy similarity join, event-time windows, dedup (LSH), ANN top-k, and
# text analysis. nd01 (exact all-pairs cosine) is excluded by design: it is
# O(n^2) and exists as the brute-force oracle baseline, not a scale path.
# Round-2 operators, timed separately so the headline total stays
# comparable to the round-1 anchor (warm + single timed pass each;
# reported under "extended", not summed into "value").
EXTENDED = [
    # round-13 additions: VP9 metadata tier
    "mm21_vp9_frame_metadata",
    "mm22_mp4_vpcc_qa",
    # round-12 additions: non-utf8 CSV branch, HEVC metadata tier
    "cv02_csv_nonutf8_roundtrip",
    "mm17_hevc_sps_metadata",
    "mm18_mp4_hvcc_qa",
    "xl02_xlsx_sidecar_roundtrip",
    "mm19_av1_seq_metadata",
    "mm20_mp4_av1c_qa",
    # round-11 additions: H.264 metadata tier, quota ledger, ingest round-trips
    "mm15_h264_sps_metadata",
    "mm16_mp4_avcc_qa",
    "qa01_daily_quota_ledger",
    "xl01_xlsx_roundtrip",
    "cv01_csv_roundtrip",
    "dd04_dup_clusters",
    "dc01_decontaminate",
    "sp01_hash_split",
    "sp02_stratified_sample",
    "tx05_repetition",
    "mm02_media_decode",
    "j02b_typo_fallback",
    # round 5
    "j13_reject_payload",
    "mm03_jpeg_decode",
    # round 6
    "dd05_incremental_minhash",
    "mm05_mp4_metadata",
    "dd06_span_dedup",
    "rj01_interval_join",
    "tx07_gopher_rules",
    "ex01_shard_stats",
    # round 6, third batch
    "sd01_semantic_dedup",
    "pp01_pretraining_pipeline",
    "tx10_tfidf_topk",
    "ck01_document_chunks",
    # round 6, final batch
    "q06_large_volume_customers",
    "j16_point_in_time_status",
    "tx12_ngram_novelty",
    # round 7
    "mm07_mjpeg_frames",
    "ann05_pq_topk",
    "pk01_sequence_packing",
    "st08_stream_static_enrich",
    "tx14_bigram_logprob",
    "mx02_token_budget_fill",
    "gr01_pagerank",
    "tk01_bpe_vocab",
    "a13_hll_distinct",
    "w09_ewma_value",
    "cms01_heavy_hitters",
    "ex03_jsonl_roundtrip",
    "zo01_zorder_cells",
    # round 7, second batch
    "gf01_gap_fill",
    "ii01_inverted_index",
    "qt01_histogram_quantiles",
    "ev01_linkage_eval",
    "tk02_wordpiece_segment",
    "ia01_incremental_rollup",
    "bm01_bm25_rank",
    "pt01_partition_pruned_rollup",
    "js01_json_extract_rollup",
    "ad01_traffic_anomalies",
    "wz01_winsorized_stats",
    "mm08_hadamard_spectrum",
    "cp01_compaction_plan",
    "tx15_readability",
    "pf01_table_profile",
    "ep01_epoch_shuffle",
    "tc01_triangle_census",
    "bf01_bloom_decontaminate",
    "w10_ohlc_bars",
    "mm09_image_dhash",
    "mm10_image_neardup_pairs",
    "ann06_ivfpq_topk",
    "tx16_heldout_logprob",
    "ws01_weighted_sample",
    "mm11_audio_fingerprint_groups",
    "pp02_multimodal_curation",
    # round 8
    "ann07_ivfpq_refine_topk",
    "mx03_temperature_mixture",
    "ks01_keep_best_per_cluster",
    "ev02_ann_recall",
    "se01_schema_evolution",
    "mm12_gif_decode",
    "mm13_gif_animation_frames",
    "fm01_orc_roundtrip",
    # round 8, second batch
    "bfs01_reach_levels",
    "hy01_hybrid_rrf_fusion",
    "hh01_threshold_heavy_hitters",
    "sq01_session_transitions",
    "uv01_unpivot_part_attrs",
    "gs01_grouping_sets",
    "ka01_k_anonymity",
    # round 8, third batch
    "hn01_hard_negatives",
    "ev03_rank_agreement",
    "cu01_curriculum_schedule",
    "dp01_noisy_counts",
    "mk01_mlm_masking_plan",
    "sa01_skew_audit",
    "ev04_gate_calibration",
    "ev05_gate_kappa",
    "tx17_url_normalize",
    "dc03_semantic_decontaminate",
    "px03_pii_density",
    "dd08_dedup_savings",
    "mm14_resized_thumbs",
    "tk03_vocab_coverage",
    "aj02_asof_directions",
    "q07_promo_revenue_share",
    "ev06_quality_auc",
    "cf01_cascade_filter",
    "gr02_star_components",
    "qn01_int8_quantize",
    "dm01_label_centroid_cosine",
    "fh01_feature_hashing",
    "tk04_vocab_coverage_curve",
    "pb01_padding_efficiency",
    "q08_idle_customers",
    "br01_boolean_retrieval",
    "rp01_corpus_datacard",
    "sp03_group_safe_split",
    "im01_class_weight_plan",
    "dr01_psi_drift",
    "ka02_l_diversity",
    "q09_priority_with_returns",
    "cd02_apply_changefeed",
    "st11_streaming_psi_drift",
    "tx18_zipf_fit",
    "q10_returned_revenue_topk",
    "ann08_int8_topk",
    "dd09_containment_pairs",
    "ab01_ab_test_readout",
    # round 9
    "dd10_exact_substring_spans",
    "tx19_token_entropy",
]

# r14 (VERDICT r13 item 7): the heaviest extended queries get min-of-3 —
# their min-of-2 readings swung ±25% run-to-run on this shared host, which
# left per-query optimization claims unconfirmable. Additions-only: the
# headline set, its timing loop, and the one-line JSON contract are
# untouched; lighter extended queries stay at $SPARK_GRAFT_BENCH_EXT_ITERS.
EXTENDED_HEAVY = {
    "dd09_containment_pairs",
    "bfs01_reach_levels",
    "dd05_incremental_minhash",
    "gr01_pagerank",
    "pp01_pretraining_pipeline",
    "dd10_exact_substring_spans",
    "j13_reject_payload",
    "tk01_bpe_vocab",
    "j02b_typo_fallback",
    "ev01_linkage_eval",
    "hy01_hybrid_rrf_fusion",
    "dd08_dedup_savings",
    "ks01_keep_best_per_cluster",
    "tx19_token_entropy",
    "gr02_star_components",
    "sd01_semantic_dedup",
    "xl01_xlsx_roundtrip",
    "dd04_dup_clusters",
    "mm10_image_neardup_pairs",
    "tx12_ngram_novelty",
}

HEADLINE = [
    "flagship_band_rollup",
    "q01_pricing_summary",
    "q03_region_revenue",
    "j01_exact_resolution",
    "j02_fuzzy_topk",
    "a01_band_summary",
    "a07_status_priority_rollup",
    "o01_topk_orders_per_customer",
    "w01_tumbling_hourly",
    "w03_sessionize_30m",
    "aj01_asof_purchase_view",
    "dd02_ngram_jaccard_pairs",
    "dd03_minhash_lsh_pairs",
    "ann01_cosine_topk",
    "ann03_ivf_topk",
    "tx01_quality_features",
]


def run_one(spark, name: str, sf_dir: str) -> float:
    fn, _ = REGISTRY[name]
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    # workers must be able to import the package regardless of cwd
    import __spark_entry__ as entry_mod  # noqa: PLC0415

    entry_mod._ensure_workers_can_import(spark)
    # JVM/codegen warmup: run every headline query once at the smallest sf
    # so whole-stage-codegen class compilation isn't billed to the first
    # heavy query; data at sf_dir is never touched before timing.
    for name in HEADLINE:
        try:
            run_one(spark, name, warm_dir)
        except Exception:
            pass

    # timed iterations, report steady-state (min): the first pass at full
    # volume still triggers C2 JIT on the hot codegen loops, and host-level
    # CPU contention (this runs in a shared microVM) adds multi-x noise to
    # individual runs — min-of-3 is the robust statistic. A failing query
    # records -1 instead of killing the whole bench.
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    timings: dict[str, float] = {}
    for name in HEADLINE:
        try:
            timings[name] = round(min(run_one(spark, name, sf_dir) for _ in range(iters)), 3)
        except Exception as exc:  # noqa: BLE001 — keep the harness alive
            print(f"bench: {name} FAILED: {type(exc).__name__}: {exc}", file=sys.stderr)
            timings[name] = -1.0

    # extended queries: warm once, then min-of-2 — a single-shot timing
    # on this shared microVM swings 2-3x and gets recorded as if real
    ext_iters = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_ITERS", "2"))
    extended: dict[str, float] = {}
    # a w01 canary reading every ~25 extended queries pins the host-load
    # trajectory across the long extended pass, so per-query readings can
    # be judged against the contention at the moment they ran (r14)
    ext_canaries: list[float] = []

    def canary() -> float:
        # a failed canary records -1, as a failed query does, instead of
        # losing the whole run
        try:
            return round(run_one(spark, "w01_tumbling_hourly", sf_dir), 3)
        except Exception as exc:  # noqa: BLE001 — keep the harness alive
            print(f"bench: w01 canary FAILED: {type(exc).__name__}: {exc}", file=sys.stderr)
            return -1.0

    for i, name in enumerate(EXTENDED):
        if i % 25 == 0:
            ext_canaries.append(canary())
        iters_n = max(ext_iters, 3) if name in EXTENDED_HEAVY else ext_iters
        try:
            run_one(spark, name, warm_dir)
            extended[name] = round(min(run_one(spark, name, sf_dir) for _ in range(iters_n)), 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} FAILED: {type(exc).__name__}: {exc}", file=sys.stderr)
            extended[name] = -1.0
    ext_canaries.append(canary())

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "extended_canaries": ext_canaries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # Regression guards: ratio vs the round-1 anchor (driver numbers,
    # measured under unknown host load) AND vs the round-6 refreshed
    # anchor (min-of-7 on an annotated host — see BENCH_ANCHOR_R6.json).
    # >1 = slower, <1 = faster. Only meaningful at the anchor's sf; the
    # shared-microVM host still swings single queries 2-3x, so treat
    # ratios > ~1.5 as signal, not noise (CLAUDE.md). The r6 anchor is
    # the lower-noise reference for per-query regression hunting; the r1
    # anchor stays for cross-round comparability.
    for path, key, total_key in (
        ("BENCH_ANCHOR.json", "vs_anchor", "vs_anchor_total"),
        ("BENCH_ANCHOR_R6.json", "vs_anchor_r6", "vs_anchor_r6_total"),
        ("BENCH_ANCHOR_R7.json", "vs_anchor_r7", "vs_anchor_r7_total"),
        ("BENCH_ANCHOR_R8.json", "vs_anchor_r8", "vs_anchor_r8_total"),
        ("BENCH_ANCHOR_R9.json", "vs_anchor_r9", "vs_anchor_r9_total"),
    ):
        anchor_path = os.path.join(REPO, path)
        if not os.path.exists(anchor_path):
            continue
        with open(anchor_path) as f:
            anchor = json.load(f)
        if str(anchor.get("sf")) != str(out["sf"]):
            continue
        ref = anchor.get("queries", {})
        out[key] = {
            n: round(t / ref[n], 2) for n, t in timings.items() if t > 0 and ref.get(n, 0) > 0
        }
        common = [n for n in timings if timings[n] > 0 and ref.get(n, 0) > 0]
        if common:
            out[total_key] = round(
                sum(timings[n] for n in common) / sum(ref[n] for n in common), 3
            )

    # The driver records only the LAST 2,000 chars of output, so the
    # full dict (extended map + four ratio maps ≈ 6 KB) loses its head —
    # including the absolute headline timings (VERDICT r8 nit). Persist
    # the full result to a repo file and print a COMPACT line that fits
    # the tail: absolute headline timings + totals + the two headline
    # ratio summaries.
    with open(os.path.join(REPO, "BENCH_FULL_LOCAL.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": timings,
        "extended_total": round(sum(t for t in extended.values() if t >= 0), 3),
        "full": "BENCH_FULL_LOCAL.json",
    }
    for k in ("vs_anchor_total", "vs_anchor_r8_total", "vs_anchor_r9_total"):
        if k in out:
            compact[k] = out[k]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
