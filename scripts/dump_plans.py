"""Regenerate PLANS.md: physical-plan evidence for the headline queries
(pushdown, pruning, broadcast selection, top-k operators, partial aggs).

Usage: python scripts/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dataingestionplayground_spark.plans import physical_plan
from dataingestionplayground_spark.queries import all_queries
from dataingestionplayground_spark.session import get_spark

SHOW = [
    ("scan_filter_project", "filter + projection reach the parquet scan"),
    ("agg_pricing_summary", "partial + final hash aggregation; local small-scan fan-out below the partial agg (r16, no-op at scale)"),
    ("join_star_broadcast", "fixed-size dims broadcast — zero join shuffles"),
    ("join_multiway", "6-way join: broadcast dims, AQE-planned fact joins"),
    ("sort_limit_topk", "TakeOrderedAndProject — top-k without a global sort"),
    ("events_asof_join", "as-of join: union + single sort-shuffle window"),
    ("dedup_minhash_lsh_pairs", "minhash: small-scan fan-out under HashAggregate lane-mins, band self-join emitting each pair at its first colliding band (no pair-level HashAggregate)"),
    ("vector_knn_bruteforce", "two-phase top-k: partial per-partition heap below the final window exchange"),
    ("vector_ivf_ann", "IVF: broadcast centroid assignment, bucket equi-join, rerank"),
    ("text_fingerprint", "min rolling-hash inside the projection — no explode, no shuffle"),
    ("tpch_q6_forecast_revenue", "all predicates pushed to the scan, 4-column pruned read, no join"),
    ("join_bloom_prefilter", "Bloom bitmap build + in-row membership probe BEFORE the join exchange"),
    ("vector_hamming_ann", "sign-packed Hamming shortlist (bit_count/xor) below the exact-cosine rerank"),
    ("dedup_decontaminate", "eval grams broadcast (benchmark-sized); one per-doc overlap hash agg"),
    ("dedup_lsh_verified_pairs", "rep-first near-dup: md5 replica-group collapse, band+packed verify on UNIQUE texts, output-sized member-pair expansion (r14)"),
    ("vector_int8_quantize", "quantization as pure per-row projection — no exchange anywhere"),
    ("vector_pq_adc_search", "ADC: per-query LUT broadcast; corpus scored via int-code lookups"),
    ("vector_semdedup", "cell-blocked dedup: Arrow matmul assignment (checkpointed), ONE cell shuffle into a grouped-pandas dominance stage"),
    ("sample_token_budget_bucketed", "budget selection without a global sort or window: histogram agg + literal threshold"),
    ("tpch_q21_suppliers_kept_waiting", "the most shuffle-heavy TPC-H shape: fact self-joins + exists/not-exists"),
    ("sample_stratified_by_source", "md5-permille stratified sampling — zero Exchange at any scale"),
    ("ingest_pack_sequences", "sequence packing: sharded per-source prefix sum — range exchange + narrow Arrow pass, no skewed window (r7)"),
    ("text_repetition_filter", "two cascaded hash aggs (doc,gram)->(doc), both map-side partial"),
    ("window_ntile_buckets", "global + per-status ntile via sharded prefix count — zero WindowExec (r7)"),
    ("window_ratio_to_total", "ratio-to-report as broadcast-aggregate denominators — no OVER () (r7)"),
    ("events_heavy_hitters", "top-k heavy hitters: TakeOrderedAndProject then window-free bounded rank (r7)"),
    ("text_gopher_quality_rules", "Gopher document filters as one narrow projection — zero Exchange at any scale (r8)"),
    ("sample_dsir_importance", "DSIR importance: one 256-key partial hash agg, broadcast dist table, per-doc agg — no windows (r8)"),
    ("text_bm25_topk", "BM25: postings filtered to query terms BEFORE the tf agg; df + stats broadcast; TakeOrdered top-10 (r8)"),
    ("dedup_global_first_segment", "keep-first segment dedup: occurrence window on the high-cardinality segment hash + per-doc rebuild agg (r8)"),
    ("dedup_containment_pairs", "containment verify: band candidates then packed-set intersect — pair-only shuffle (r8)"),
    ("layout_zorder_codes", "Morton z-codes as in-row BIGINT shift/mask — zero Exchange (r8)"),
    ("agg_theta_set_algebra", "theta set algebra: ObjectHashAggregate partial+final sketch merge, in-row union/intersect/difference (r8)"),
    ("text_nb_quality_classifier", "trained NB: label join, ONE 256-key partial agg, 256-row weight broadcast, per-doc decimal-sum agg (r8)"),
    ("events_gap_fill", "daily densify: hash agg to day grain, sequence-explode grid, keyed left join, per-user ordered window (r8)"),
    ("retrieval_hybrid_rrf", "hybrid RRF: both retrievers end in bounded top-10s; fusion join + rank touch <= 20 rows (r8)"),
    ("events_changepoint_cusum", "CUSUM via closed form: ONE sort-shuffle, two window passes (running sum + running min), zero Python (r8)"),
    ("multimodal_ahash_pairs", "image ahash: Arrow build+decode+hash pass into a banded Hamming self-join — never all-pairs (r8)"),
    ("fuzzy_join_qgram_overlap", "lossless prefix-filtered similarity self-join: bounded prefix-gram equi-join, distinct pairs, in-row intersect verify (r9)"),
    ("pipeline_constraint_checks", "Deequ-style gate: one conditional-agg pass per fact table + one anti-join, stacked long-form (r9)"),
    ("events_psi_drift", "PSI drift: one conditional-count pass, densified bin grid, broadcast totals, 6dp-decimal log-term sum (r9)"),
    ("events_ema_smooth", "exact truncated EMA: one per-user sort-shuffle, bounded 20-row frame, in-row integer weights — zero Python (r9)"),
    ("sample_weighted_systematic", "systematic PPS sampling: sharded prefix sum (range exchange + narrow Arrow pass) + broadcast total (r9)"),
    ("text_ngram_novelty", "n-gram novelty: in-row shingles, first-seen hash agg, equi-join back, per-doc agg — two shuffles, no windows (r9)"),
    ("window_median_sliding", "sliding median: bounded collect_list frame + in-row sorted-array median — per-user partitioned window (r9)"),
    ("events_rate_limit_burst", "rate-limit burst: event-time RANGE frame over epoch micros, per-user partitioned (r9)"),
    ("text_inverted_index", "inverted index: per-doc in-row term dedup before the explode, one hash agg, ordered postings (r9)"),
    ("window_range_frame", "global RANGE frame without replication: one range exchange, broadcast boundary-slice arrays, searchsorted Arrow pass (r10)"),
    ("events_autocorrelation", "ACF: ONE corpus hash agg to (type, day); spine/mean/lag joins all run on the days-x-types frame (r10)"),
    ("events_markov_stationary", "Markov stationary: one per-user window pass; transition matrix + 3 power iterations are |types|^2 broadcast joins (r10)"),
    ("sample_reservoir_weighted", "A-ES weighted reservoir: keyed projection + TakeOrderedAndProject — one scan, no total-weight pass, no shuffle (r10)"),
    ("retrieval_eval_ndcg", "nDCG eval: BM25's own shuffles + one in-row relevance agg; DCG/IDCG on k-bounded frames (r10)"),
    ("events_bot_regularity", "bot regularity: one per-user sort-shuffle for gaps, one decimal-sufficient-stats hash agg, |users|-sized cv math (r10)"),
    ("dedup_eval_lsh_pr", "LSH candidate P/R: band equi-join candidates vs shingle equi-join truth — two hash joins, never all-pairs (r10)"),
    ("dedup_lsh_incremental", "incremental LSH: batch-side bands vs corpus-side bands equi-join, packed-set Jaccard verify on candidates only (r10)"),
    ("retrieval_query_likelihood", "Dirichlet QL: docs x 3-term broadcast grid, left-joined tf, one-row collection stats broadcast, TakeOrdered top-10 (r10)"),
    ("hierarchy_rollup_ancestors", "hierarchy rollup: in-row ancestor-chain explode (depth<=7) + ONE hash agg — no recursion, no iteration (r10)"),
    ("events_xcorr_lead_lag", "lead-lag xcorr: corpus collapses to an hours-sized series in one agg; spine + 7-lag literal frame joins are time-bounded (r10)"),
    ("pipeline_join_skew_report", "skew report: per-key hash agg, ~64-bucket bit-length agg, one-row total broadcast — no global sort (r10)"),
    ("agg_corr_pairs", "corr matrix: ONE scan computing nine decimal power sums map-side partial; 3-row stack of the single agg row (r10)"),
    ("vector_ivfpq_residual", "IVFADC: broadcast centroid-array, IN-ROW coarse assignment + residuals (r16: no corpus x cells exchange/window), residual-PQ encode, probed ADC LUT join, bounded top-k (r10b/r16)"),
    ("window_running_distinct", "running COUNT(DISTINCT): first-occurrence flag + running sum — ONE exchange satisfies both window distributions (r10b)"),
    ("text_kneser_ney_perplexity", "Kneser-Ney LM: one bigram-type hash agg; c1/type counts are rollups of it; three vocabulary-sized equi-joins (r10b)"),
    ("sample_coordinated_join", "coordinated sampling: md5 key predicate pushed to BOTH parquet scans; join of samples = key cluster sample of join (r10b)"),
    ("events_gini_concentration", "Gini: sharded_rank_multi range exchange replaces the low-cardinality-partition rank window; decimal rank-sum agg (r10b)"),
    ("graph_label_propagation", "LPA: hub-capped (type, window) cell self-join edges; per round one neighbor join + hash agg + per-node top-1 (r10b)"),
    ("retrieval_rm3_expansion", "RM3: 10-doc feedback side fully broadcast; corpus rescan filtered by the 8-term broadcast before any agg (r10b)"),
    ("pipeline_target_encoding", "LOO target encoding: per-category agg + 1-row prior broadcast, then a pure per-row expression — zero corpus shuffles (r10b)"),
    ("vector_embedding_drift", "drift monitor: Arrow matmul assignment (checkpointed), 16-key occupancy agg, (side,cell,pos)-bounded means agg, broadcast PSI/shift math (r12)"),
    ("text_quality_ensemble", "quality ensemble: three per-doc signal frames, two 1-row extrema broadcasts, doc-keyed joins — no new corpus-shuffle class (r12)"),
    ("vector_intrinsic_dimension", "TwoNN: GlobalLimit-bounded probe broadcast x corpus, two-phase partial top-2, decimal log-term sum to ONE row (r12)"),
    ("text_zipf_fit", "Zipf fit: one vocab hash agg, GlobalLimit top-1000, bounded rank, OLS sufficient stats in one 1000-row agg (r12)"),
    ("text_burstiness", "burstiness: (doc,term) then term hash aggs (both partial), exact-BIGINT VMR, GlobalLimit top-20 + bounded rank (r12)"),
    ("text_token_fertility", "token fertility: in-row language predictor + ONE 5-key hash agg of exact BIGINT sums — zero joins (r12)"),
    ("pipeline_curate_funnel", "end-to-end curate chain (dedup -> boilerplate -> quality -> decontam) as one composed plan (r13)"),
    ("text_bpe_train_merges", "BPE training: ONE corpus token scan, then vocab-sized pair aggs + 1-row TakeOrdered + broadcast replace per iteration (r13)"),
    ("text_ccnet_lm_buckets", "CCNet bucketing: the unigram LM's plan + one doc-keyed join + |langs|-row percentile agg broadcast back (r13)"),
    ("dedup_minhash_calibration", "MinHash calibration: candidate-bounded signature-match agg + packed-set array_intersect verify (r13)"),
    ("pipeline_data_card", "data card: one corpus scan for all signals, source-keyed agg with two-phase count-distincts, partitioned top-lang window (r13)"),
    ("vector_ivf_nprobe_sweep", "IVF tuning curve: three broadcast-argmax assignment legs, k-bounded grading joins (r13)"),
    ("vector_ivf_merge_maintenance", "maintained IVF: base-frozen broadcast centroids, two matmul assignment legs, ONE n_cells-key agg + 1-row total broadcast (r14)"),
    ("pipeline_release_gate", "release gate: three member plans unchanged; composition is three broadcast single-row aggs + literal-threshold booleans (r14)"),
    ("text_signal_correlation_matrix", "signal correlations: member scans + doc-keyed joins into ONE single-row exact-decimal agg (r13)"),
    ("events_stickiness", "DAU/WAU: distinct activity frame, exact 7x sequence-explode into a gday equi-shuffle (no BNLJ band join), day-keyed distinct agg (r13)"),
    ("dedup_cross_source_matrix", "cross-source near-dup matrix: banded candidates + packed-set verify + two doc-keyed source joins, |sources|^2-bounded output (r13)"),
    ("events_anomaly_consensus", "detector ensemble: three sparse flagged frames full-outer vote join, one event-keyed rehydration join (r13)"),
    ("events_kpi_daily", "daily KPI strip: ONE day-keyed hash agg with two-phase distinct DAU and decimal value sums (r13)"),
    ("pipeline_release_report", "release card: one corpus scan, single-row agg with two-phase count-distincts, |langs|-key entropy agg (r13)"),
    ("sample_mixture_realization_check", "plan-vs-realized mixture: source-count agg, BIGINT rate table broadcast into the md5 coin filter, final source agg (r13)"),
    ("dedup_softdedup_effect", "soft-vs-hard dedup mass: registered weights + token join, |clusters| keepers agg, one single-row decimal fold (r13)"),
    ("vector_cell_balance_sweep", "cell-resolution curve: three broadcast-matmul assignment legs over the shared balance frame, zero corpus shuffles (r13)"),
    ("multimodal_video_scene_cuts", "video shot detection: one Arrow build+parse+hash pass, lag window PARTITIONED BY clip (32-row partitions), one clip-keyed agg (r15)"),
    ("multimodal_video_fp_pairs", "video near-dup: single-exchange (scene slot, exact hash) band join with carried fingerprint arrays — first-matching-slot dedup + codegen Hamming, no distinct, no verify re-join (r15)"),
    ("multimodal_video_fp_incremental", "per-batch video screen: the same single-exchange band join, asymmetric batch-vs-corpus slices, ≤12 report / ≤4 auto-drop bounds on the carried-array Hamming (r15)"),
    ("multimodal_dedup_card", "cross-modality card, sub-linear in pair mass: per modality, rep-per-band-group agg + co-partitioned member-vs-rep verify join + arithmetic m*(m-1)/2 fold — no pair frame anywhere; three broadcast 1-row compositions (r16)"),
]

INTERESTING = re.compile(
    r"Exchange|Join|HashAggregate|SortAggregate|Window|Sort |TakeOrdered|"
    r"FileScan|PushedFilters|PartitionFilters|ReadSchema|InPandas|ArrowEval|Broadcast"
)


def main():
    spark = get_spark("plans-dump", cpus=8)
    sf = "/root/testdata/sf0.1"
    reg = all_queries()
    out = [
        "# PLANS — physical-plan evidence (sf0.1, regenerate: "
        "`python scripts/dump_plans.py`)\n",
        "Filtered to the plan lines that carry scale signals: scans with\n"
        "pushed filters / pruned schemas, exchange placement, join\n"
        "strategies, aggregate modes, top-k operators.\n",
    ]
    for name, why in SHOW:
        plan = physical_plan(reg[name].fn(spark, sf), "simple")
        lines = [
            line.rstrip()[:160]
            for line in plan.splitlines()
            if INTERESTING.search(line)
        ]
        out.append(f"\n## {name}\n\n*{why}*\n\n```")
        out.extend(lines)
        out.append("```")
    Path("PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(SHOW)} plans)")


if __name__ == "__main__":
    main()
