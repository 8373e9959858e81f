"""Regenerate PLANS.md: the executed (AQE-final) physical plans of
representative queries, as evidence of scan pushdown / broadcast joins /
partial aggregation / codegen without needing to run anything.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from fitness_nutrition_data_pipeline_spark.queries import all_specs  # noqa: E402
from fitness_nutrition_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

SHOWCASE = [
    ("tpch_q6_forecast_revenue", "pure pushdown: every predicate in PushedFilters, no shuffle"),
    ("tpch_q3_shipping_priority", "broadcast dim filter + fact join + TakeOrderedAndProject"),
    ("star_join_topk", "two broadcast hash joins, no SortMergeJoin"),
    ("daily_rollup_sum", "partial+final HashAggregate around one Exchange"),
    ("orphan_fk_check", "LEFT ANTI as BroadcastHashJoin"),
    ("minhash_lsh_buckets", "explode → min-agg → band groupBy (linear near-dedup)"),
    ("embedding_knn_bruteforce", "broadcast queries, JVM cosine, per-group top-k"),
    ("sessionize_events", "single shuffle on user_id; windows partition-local"),
    ("tpch_q4_priority_exists", "EXISTS decorrelated to LEFT SEMI join"),
    ("tpch_q16_supplier_cnt", "NOT IN as broadcast LEFT ANTI + distinct count"),
    ("interval_range_join", "non-equi range join as BroadcastNestedLoopJoin, no shuffle"),
    ("cube_revenue", "CUBE: one Expand, one shuffle, four grouping sets"),
    ("column_profile_orders", "N-column profile in ONE scan (stack unpivot of 1-row agg)"),
    ("hash_stratified_sample", "deterministic sample: row-local hash predicate, no join/window"),
    ("ngram_jaccard_pairs", "pair join carries shingle ARRAYS; array_intersect per pair — N rows through the shuffle, not N×shingles"),
    ("contamination_check", "benchmark gram set broadcast; corpus side never shuffles for the join"),
    ("tpch_q8_market_share", "8-table snowflake: scaling sides unhinted (AQE runtime call), fixed dims broadcast, single fact shuffle"),
    ("near_dup_pipeline", "end-to-end near-dedup: minhash sigs → LSH bands → capped in-bucket star pairs → shingle-join Jaccard verify"),
    ("tpch_q15_top_supplier", "argmax: 1-row max broadcast onto revenue, ~1-row survivor set broadcast onto supplier"),
    ("pii_scan_redact", "regexp scan+redact: zero shuffles, pure codegen projection"),
    ("lsh_dedup_clusters", "exact clusters: pinned doc↔bucket membership, bucket-min star edges, connected components in one MapInPandas task (union-find finish), no pair expansion"),
    ("embedding_lsh_buckets", "hyperplane LSH: plane table broadcast, one posexplode, map-side partial dots"),
    ("kmeans_lloyd_update", "Lloyd step: centroids broadcast, (centroid,dim) partial-agg mean recompute"),
    ("corpus_curation_pipeline", "composed curation: all joins keyed on doc_id, LSH decision linear, 6-row result"),
    ("sequence_packing_windows", "shard-partitioned running sum (parallel per lang), then window groupBy"),
    ("cdc_chunk_dedup", "content-defined chunking: per-doc windows (lead + running sum), corpus-wide distinct-hash agg"),
    ("ks_binned_click_view", "KS on a 100-bin grid: filters pushed to scan, scalar extremes broadcast, windows over bins not data"),
    ("equi_depth_price_deciles", "exact global deciles with NO visible window: ranks inside checkpointed range-partitioned stage"),
    ("dau_wau_stickiness", "rolling 7-day DISTINCT as day-spine range join (spine broadcast), distinct pairs shuffle once"),
    ("unigram_logprob_docs", "corpus LM scoring: explode → vocab agg → token join → doc rollup, zero windows"),
    ("minhash_jaccard_calibration", "sketch-vs-exact calibration: both sides reduce to doc grain before the pair joins"),
    ("decimal_money_totals", "exact DECIMAL money rollup: partial+final agg, order-independent bits at any parallelism"),
    ("tpch_q2_min_cost_supplier", "correlated MIN as per-part argmin window; supplier snowflake broadcast"),
    ("tpch_q21_waiting_suppliers", "EXISTS/NOT-EXISTS pair as per-order counts — one aggregation pyramid, no fact self-joins"),
    ("multimodal_format_profile", "binary column: JVM magic-number sniff at scan, ONE Arrow-batched MapInPandas stage"),
    ("join_key_skew_profile", "pre-join skew diagnostic: keyed count shuffle, 1-row stats broadcast, TakeOrdered top-k"),
    ("heavy_hitters_verified", "Misra-Gries candidates (bounded MapInPandas) → broadcast semi-join → exact recount of candidates only"),
    ("mmr_diversified_topk", "greedy MMR: k TakeOrdered(1) passes, selected set as broadcast literals, corpus never re-shuffles"),
    ("inverted_index_postings", "capped inverted index: exact df agg, postings collected only for broadcast top-k terms, hash-sampled 10%"),
    ("corpus_datacard", "per-source data card: three source-grain agg passes joined broadcast, argmax window on lang grain"),
    ("token_length_percentiles", "exact per-group percentiles with NO data-grain sort: value-grain histogram CDF + integer rank thresholds"),
    ("bigram_pmi_collocations", "collocation mining: two explode+count passes, vocab-key joins, mass scalars broadcast, TakeOrdered top-20"),
    ("zorder_locality_stats", "Z-order layout: one scan, 3x layout explode, pure shift/mask codegen curve key"),
    ("concurrent_sessions_peak", "interval concurrency: bounded minute explode, per-day argmax window on minute grain, one event scan"),
    ("snapshot_diff_cdc", "CDC snapshot diff: md5 row-hash early (wide cols out of the payload), FULL OUTER shuffle join — never broadcastable by construction"),
    ("training_shard_assignment", "deterministic global training order: hash-route + shard-PARTITIONED window (no global sort), shard-grain result"),
    ("copurchase_pairs_topk", "market-basket pairs: per-order cap window bounds the quadratic stage, co-keyed self-join, TakeOrdered top-k"),
    ("length_filter_survivorship", "threshold curve: corpus folds to a length histogram FIRST, 5-row grid joins the aggregate — one scan for five thresholds"),
    ("triangle_count_cooccurrence", "triangle motif: pinned distinct projection + oriented edges (src<dst), 3-way join on the alphabet-bounded edge set"),
    ("hygiene_batch_replay", "hygiene replay: PII regexp projection (pure codegen) + contamination explode vs broadcast benchmark grams"),
    ("hard_negative_mining", "contrastive negatives: broadcast anchors, label-mismatch predicate inside the join, k rows per anchor survive"),
    ("cluster_balanced_sample", "balanced curation sampling: one scan, cluster-PARTITIONED quota window, answer-sized output"),
    ("cuped_adjusted_lift", "CUPED readout: user-grain shuffle, pinned 2-row arm moments, 1-row theta broadcast back"),
    ("variant_props_profile", "Spark 4 VARIANT: try_parse_json once into binary encoding, typed path extraction, keyed agg"),
    ("shard_manifest_checksums", "order-sensitive manifests: shard-partitioned window + sort_array(struct) inside the per-shard aggregate"),
    ("zorder_write_band_spans", "z-ordered WRITER readback: deterministic top-bits bands, per-band span agg over the files just written"),
    ("rag_chunk_plan", "RAG chunk planning: closed-form integer chunk math per row, one scan, source-grain agg"),
    ("filter_funnel_attribution", "quality funnel: one corpus scan folds to first-fail rule grain; funnel window on 4 rows"),
    ("tokenizer_fertility_by_source", "fertility estimate: word explode, integer subword proxy, single keyed agg"),
    ("char_class_profile", "char-class composition: regexp_replace+length codegen scalars, no explode, one scan"),
    ("cdc_merge_apply", "MERGE apply: one co-keyed FULL OUTER join, per-action integer-cents audit"),
    ("auc_exact_rank", "exact AUC: score-grain histogram fold, bounded rank walk, one final division"),
    ("bradley_terry_scores", "BT preference scores: day-keyed contest join, ppm-quantized MM steps on competitor grain"),
    ("bucketed_join_audit", "bucketed write + join: the fact side never shuffles for the join (AQE broadcasts the dim at this SF; with broadcast disabled the bucketed SortMergeJoin has no exchange on either side - pinned in tests/test_bucketing.py)"),
    ("incremental_agg_maintenance", "IVM: prior group-grain agg + delta-sized retraction join; hash-equal to the oracle's full recompute"),
    ("rfm_segmentation", "RFM quintiles: orders fold to customer grain, three deterministic ntile windows, 125-cell rollup"),
    ("feature_hashing_collisions", "hashing-trick sizing: vocab fold pinned once, 4-width grid joins the fold"),
    ("halflife_decay_scores", "recency decay: per-event double quantization to exact integer weights, one user-keyed shuffle"),
    ("partitioned_write_prune_audit", "partitioned write + readback: week predicate lands in PartitionFilters - 7 of ~31 day dirs scanned"),
    ("multimodal_payload_dedup", "binary CAS dedup: JVM magic sniff + md5-over-hex digests; only 32-char digests cross the shuffle"),
    ("markov_next_event_accuracy", "sequence eval: pinned per-user lead pass, state-count model broadcast into the test join"),
    ("hybrid_retrieval_eval", "serving cascade: pinned pairs pass (queries broadcast), two rank windows fused by RRF, metric joins top-10-sized"),
    ("ndcg_fused_eval", "NDCG@10 on the same fused ranking: integer log2 weights as array literals, IDCG a cumsum lookup — no query-time float"),
    ("skew_salted_join_audit", "hot-key salting: SortMergeJoin on (user_id, salt), dim replicated x8, salt never reaches the output"),
    ("dynamic_partition_prune_audit", "runtime pruning: dim week-filter injects dynamicpruning PartitionFilter on the fact scan — 7 of ~30 day dirs read"),
    ("ivm_batch_replay", "IVM bridge: three delta waves folded through the foreachBatch maintainer algebra, group-grain state only"),
    ("rag_corpus_pipeline", "composed RAG ingestion: quality filter -> exact dedup -> posexplode chunker -> chunk-grain dedup, zero pre-rollup exchanges"),
    ("pretraining_mix_plan", "train-side composition: doc-grain pass folds to source grain, ppm temperature weights, integer-div budget, ceil-div packing"),
    ("schema_evolution_read_audit", "mergeSchema readback over two file generations: NULL materialization for pre-evolution files, name-based resolution"),
    ("multimodal_storage_tiering", "inline/packed/external placement: only (format, n_bytes) pairs shuffle, 1-row byte total broadcast for ppm shares"),
    ("late_dim_backfill_audit", "two-phase late-dim resolution: pinned delta-sized pending set, backfill join never touches resolved facts"),
    ("partition_restatement_audit", "day-grain restatement: broadcast affected-day set, anti-join keeps untouched aggregates, recompute reads affected days only"),
    ("kcore_peel_audit", "bounded k-core peel: pinned edge list, per round one degree agg + two left-semi joins against survivors"),
    ("kcore_fixpoint_audit", "converged k-core: loop-until-no-drop with localCheckpoint-pinned rounds, one two-long action per round; 7-round idempotent oracle unroll"),
    ("mv_rewrite_audit", "MV rewrite: monthly answer scans ONLY the written day-grain MV — no base-table scan in the answering plan"),
    ("pareto_frontier_parts", "distributed skyline: in-band prefix-max window + broadcast band-summary prefix — the quadratic pair space never materializes"),
    ("majority_vote_accuracy", "self-consistency vote: one (task,ans) agg, per-task argmax window, everything keyed on task"),
    ("poisson_bootstrap_ci", "one-pass bootstrap: 32-way explode, Poisson inverse-CDF as a codegen CASE chain, replica means by integer division"),
    ("avro_roundtrip_scan", "native Avro: one byte-range split per written file -> ONE Arrow-batched MapInPandas block decode; writer emits one container file per partition"),
    ("time_in_state_twa", "TSDB time-in-state: lead window partitioned by user, duration-weighted integer mean at type grain"),
    ("weighted_median_price", "exact weighted median: window runs over the COLLAPSED (group, price) grain, threshold test avoids division"),
    ("t_closeness_audit", "privacy EMD: (segment x band) grid with broadcast global distribution, cumulative gaps in exact integers"),
    ("activity_streaks", "gaps-and-islands: epoch-day minus row_number anchor, one user shuffle, streak stats partition-local"),
    ("shapley_attribution_exact", "Shapley credit: one user-grain aggregate, 16-node bit-containment lattice, factorial weights as a CASE chain"),
    ("capped_waterfill_allocation", "waterfill: source-grain fold, cap-sorted prefix sums, closed-form level + deterministic remainder bumps"),
    ("kmv_intersection_estimate", "theta-sketch intersection: two 64-row KMV sketches, theta = min of kth minima, set algebra on answer-sized relations"),
    ("fleiss_kappa_raters", "inter-annotator agreement: rating stream folds to (item,label) cells; kappa is integer algebra on two scalar aggregates"),
    ("tree_subtree_cost_rollup_native", "engine-native WITH RECURSIVE: the recursion is ONE declarative UnionLoop plan — no per-level driver round trips"),
    ("rfm_segmentation_histogram", "ntile-free RFM: equi-depth CDF windows over collapsed value grains, quintile maps broadcast back to customer grain"),
    ("funnel_time_to_convert", "rank selection without row_number: sec-grain prefix sums; no window over the converted-user relation"),
    ("interval_union_coverage", "sweep-line union length: user-PARTITIONED running max of interval ends, no interval self-join"),
    ("acf_daily_revenue", "exact ACF: orders fold once to day grain; lag joins run on the bounded spine x 7 lags; one fixed double expression at the end"),
    ("sliding_distinct_users_7d", "windowed COUNT DISTINCT: user-day x 7 window-end replication + dedupe — keyed shuffles, no per-window rescans"),
    ("watermark_late_drop_replay", "watermark replay: prefix-max on the BATCH-grain relation broadcast back onto events; hourly fold with map-side partials"),
    ("regression_slope_by_group", "OLS as one keyed aggregate: five integer sufficient statistics, slope a single projection"),
    ("weekday_bitmask_histogram", "bitwise presence: bit_or(1<<weekday) per user, then a <=128-row mask histogram"),
    ("two_source_reconciliation", "full-outer reconciliation: one co-keyed shuffle, classification is a projection"),
    ("avro_split_scan", "block-split Avro: byte-range split relation -> ONE Arrow-batched MapInPandas decode; parallelism = file bytes / split bytes"),
    ("grouping_sets_distinct_users", "COUNT DISTINCT under Expand: per-set replication, partial-distinct + final aggregate levels"),
    ("churn_hazard_curve", "survival hazard: user fold -> tenure histogram; the suffix-sum window runs on the bounded histogram"),
    ("stratified_train_eval_split", "exact-quota split: ONE shuffle by stratum serves both rank and count windows; ceil quota is integer math in the projection"),
    ("quantile_sketch_merge", "mergeable quantile sketch: per-source bin histograms (map-side combinable) -> merged bin counts; CDF window on the bounded bin grain; 3-row quantile spine broadcast"),
    ("skipgram_cooccurrence_topk", "skip-gram pairs: non-equi +-2 window turned into an EQUI hash join by exploding the constant offset set; TakeOrderedAndProject top-k"),
    ("quantile_normalization_map", "per-source deciles mapped to global: cumulative windows on the (source, value) DISTINCT-VALUE grain; 9-row decile spine broadcast-crossed"),
    ("hll_union_contract", "HLL p=8: one union'd key scan -> 256-row register relations; the merge is a register-grain MAX — the whole sketch algebra is answer-sized"),
    ("ivf_beam_recall_contract", "IVF beam nprobe=3: centroid relation broadcast twice (assign + probe-rank); exact ranking only inside probed partitions, never the corpus"),
    ("lsh_dedup_batch_replay", "incremental LSH bridge replay: per batch a band-key hash join of batch bands vs pinned state (Scan ExistingRDD = the bridge's state pins), never history²; union of 3 batch deltas -> pair groupBy"),
]


def main() -> None:
    spark = get_spark("dump_plans")
    specs = all_specs()
    out = [
        "# PLANS — executed physical plans (AQE final) at sf0.01",
        "",
        "Regenerate with `python tools/dump_plans.py`. What to look for per",
        "plan is noted above each block; the invariants are enforced in",
        "tests/test_plans.py.",
        "",
    ]
    for name, note in SHOWCASE:
        df = specs[name].builder(spark, SF_DIR)
        df.collect()  # drive AQE to the final plan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        out += [f"## {name}", "", f"*{note}*", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(SHOWCASE)} plans")


if __name__ == "__main__":
    main()
