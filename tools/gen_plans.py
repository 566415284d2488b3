"""Regenerate PLANS.md: captured `explain('formatted')` operator trees
for representative workloads, with notes on what each plan must show.

Usage: python tools/gen_plans.py  [sf_dir]  (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOTES = {
    "sql_q3_topk_join": (
        "Both dim joins broadcast (customer/orders sides under the "
        "threshold); TakeOrderedAndProject for the LIMIT 10 — no global "
        "sort. Filters pushed to all three parquet scans."
    ),
    "pipe_dedup_minhash_lsh": (
        "ONE groupBy(doc_id) computes all 16 min-hash aggregates "
        "(partial_min map-side); band keys fold columns — the only other "
        "exchange is the (band, sig) self-join. No per-(doc,hash) row "
        "explosion anywhere."
    ),
    "pipe_ann_cosine_topk": (
        "Queries broadcast (BroadcastNestedLoopJoin) over ONE corpus "
        "scan; per-query top-k via rank window partitioned by q_id. The "
        "corpus is never shuffled."
    ),
    "pipe_ngram_topk": (
        "Partial count before the single hash exchange; "
        "TakeOrderedAndProject caps driver traffic at k rows."
    ),
    "ts_time_weighted_avg": (
        "ONE exchange: the (bucket,key) aggregation's clustered "
        "distribution is satisfied by the lead-window's hash(key) "
        "partitioning."
    ),
    "ts_downsample_m4": (
        "Four rank windows ride one (bucket,key) exchange — re-sorts, "
        "never re-shuffles."
    ),
    "ops_scd2_history": (
        "lag + running sum + groupBy(key,ver) + lead all on one "
        "hash(user_id) exchange."
    ),
    "ops_zorder_key": (
        "Pure projection: 64 unrolled shift/mask terms inside "
        "WholeStageCodegen; zero exchanges; l_orderkey pushdown reaches "
        "the scan."
    ),
    "pipe_embed_label_stats": (
        "posexplode then ONE map-combinable exchange; partial_sum "
        "collapses each partition to labels*dim rows before the shuffle."
    ),
    "pipe_filter_boilerplate": (
        "Shingle DF via groupBy(s), join back on s, per-doc rollup — "
        "every shuffle keys on a high-cardinality column; threshold is "
        "integer cross-multiplication in the final project."
    ),
    "pipe_ann_lsh_topk": (
        "Bucketed candidates: (tbl,bucket) equi-joins only — no "
        "NestedLoop/Cartesian anywhere (that would be all-pairs); query "
        "vectors ride a broadcast; one distinct + one rank-window "
        "exchange. tests/test_plan_budgets.py pins the budget."
    ),
    "ops_salted_join": (
        "Skew spreader: at bench/cluster scale (broadcast off) both "
        "exchanges hash on (key, __salt) so a hot key spans n_salts "
        "reducers; the small side replicates via explode(sequence). "
        "At sf0.01 AQE may legally broadcast — the salted shuffle keys "
        "are pinned under forced-shuffle in tests/test_plan_budgets.py."
    ),
    "pipe_filter_gopher": (
        "Zero exchanges: every rule is integer cross-multiplication "
        "inside ONE WholeStageCodegen projection over higher-order "
        "array functions — the filter fuses into the scan."
    ),
    "ops_skew_profile": (
        "ONE map-combinable groupBy(key) exchange; top-k is "
        "TakeOrderedAndProject (never a global sort of the key space); "
        "the corpus total is a zero-column parquet count (footer "
        "metadata) broadcast in — the rank window runs over <= k rows."
    ),
    "ts_level_shift": (
        "Both contrast frames (w-preceding / w-following sums + counts) "
        "ride ONE hash(key) window exchange; flag compare is int64 on "
        "exact cents sums; no joins anywhere."
    ),
    "pipe_minhash_est_error": (
        "Banded (band,sig) candidate equi-join, then the exact-Jaccard "
        "intersection self-join is SEMI-RESTRICTED to candidate docs "
        "before its shuffle — posting-list work bounded by the "
        "candidate set; all-integer ppm output, no Cartesian/NLJ."
    ),
    "ops_corr_matrix": (
        "ONE map-combinable aggregate computes every moment "
        "(cols + cols^2 partial sums); pair rows unpivot from the "
        "1-row result — no join, no window; closed-form products are "
        "decimal(38,0) (the HUGEINT mirror), cast to double once."
    ),
    "pipe_quality_ccnet_buckets": (
        "Rides the LM-score joins (bigram model re-joined on (w1,w2) "
        "and (w1)); the added tercile window partitions by language — "
        "per-language sorts, never a global order."
    ),
    "pipe_curation_chain_v3": (
        "Four-stage composition: the Gopher-filtered corpus and the "
        "tercile selection are each materialized once (the two Scan "
        "ExistingRDD leaves), so this final plan is the exact-dedup "
        "survivor groupBy joined back onto the selection — equi-joins "
        "only, no NLJ/Cartesian anywhere."
    ),
    "ts_cross_corr": (
        "Daily cents agg (map-combinable) -> lag-spine broadcast "
        "(<= max_lag+1 rows, the only NLJ) -> day equi-join -> per-lag "
        "agg of exact int64 Pearson sums; float appears only in the "
        "final closed form."
    ),
    "graph_pagerank": (
        "Every round's state is a lazy local checkpoint, so the plan is "
        "the last round's ranks (Scan ExistingRDD) under a "
        "TakeOrderedAndProject for the top-20 — ranks never globally "
        "sorted. The per-round join+agg shape is pinned in "
        "test_plan_budgets and by test_graph_job_budget."
    ),
    "ops_bloom_prefilter": (
        "All three filter consultations are BroadcastHashJoins over "
        "ONE probe scan — the probe side is never shuffled, which is "
        "the operator's entire point (runtime-filter dataflow)."
    ),
    "ts_holt_linear": (
        "JVM-side map-combinable daily agg -> ONE exchange into the "
        "Arrow FlatMapGroupsInPandas kernel (strategy P); the "
        "sequential fit only ever sees day-sized series."
    ),
    "ops_session_funnel": (
        "ONE hash exchange (sessionize by user) reused by the gap "
        "window, all three chained stage-anchor windows, and the "
        "per-session agg — the whole funnel on a single shuffle."
    ),
    "ops_countmin_est": (
        "Counter build = partial count before the one (row,bucket) "
        "exchange; all three probes are BroadcastHashJoins — the "
        "query side never shuffles."
    ),
    "pipe_bpe_train": (
        "ONE corpus-sized shuffle (word vocabulary); each merge round "
        "is vocabulary-sized — pair explode, map-combinable count, "
        "TakeOrderedAndProject argmax, then a pure replace() "
        "projection over the checkpointed vocab."
    ),
    "pipe_example_assembly": (
        "Quality filter pushed to the docs scan; embeddings join "
        "ships (vec_id, dim) and media join (doc_id, bytes) — "
        "payloads never reach an exchange; one final groupBy."
    ),
    "graph_link_prediction": (
        "Wedge enumeration is an EQUI self-join of the adjacency "
        "list on the center node (Σ deg² bound, never all-pairs); "
        "cn groupBy partial-aggregates; anti-join + two degree "
        "joins; TakeOrderedAndProject top-k."
    ),
    "pipe_search_prf": (
        "r09 truncated shape: the bounded-small intermediates "
        "(feedback set, candidate/expansion terms, final postings) "
        "are eagerly localCheckpointed — the captured plan scores "
        "materialized postings (Scan ExistingRDD) against broadcast "
        "query/idf tables; the filter-before-shuffle postings passes "
        "and the candidate broadcast semi-join run inside the "
        "checkpoint jobs (the pre-r09 composed plan held 318 "
        "Exchanges)."
    ),
    "pipe_ann_hard_negatives": (
        "Broadcast queries × ONE corpus scan; the label inequality "
        "evaluates inside the NLJ's generated code so disqualified "
        "pairs never materialize."
    ),
    "ops_dq_expectations": (
        "Every check is a conditional sum fused into one "
        "whole-stage-codegen scan; the only exchange is the final "
        "single-partition gather, then stack reshapes to the tall "
        "report."
    ),
    "ops_retention_cohorts": (
        "ONE corpus-scale distinct on (user, week) with partial "
        "aggregation; cohort min-week reuses the user hash; the "
        "offset rollup is triangle-sized and cohort sizes return "
        "via BroadcastHashJoin."
    ),
    "pipe_dedup_winnowing": (
        "One posexplode feeds the w-following window frame on its "
        "own (doc, pos) order; fingerprints distinct, stop-cap "
        "window, equi self-join — no NLJ anywhere."
    ),
    "pipe_contrastive_pairs": (
        "ONE broadcast-queries NLJ scores the corpus; positive and "
        "negative slices split on the label predicate plan-side; "
        "the n_queries-row positive table broadcasts into the final "
        "assembly."
    ),
    "pipe_dsir_importance": (
        "Pass 1: token explode into ONE map-combinable groupBy(bucket) "
        "(256-row dim table; totals via 1-row broadcast agg, no driver "
        "count). Pass 2: re-explode, broadcast-join the ratio table, "
        "ONE groupBy(doc_id). No corpus-sized join; int64 ppm "
        "arithmetic end to end."
    ),
    "pipe_mixture_plan": (
        "ONE map-combinable groupBy(lang); the ppm weight map is a "
        "literal when-chain — no join at all. Metadata-sized output."
    ),
    "pipe_dup_ngram_spans": (
        "Shingle df via ONE count window on the shingle partitioning, "
        "then ONE groupBy(doc_id) — zero self-join, so no pair blow-up "
        "exists to cap. Strictly cheaper than any pair-based dedup op."
    ),
    "pipe_ann_pq_adc": (
        "Corpus codes from the map-only Arrow kernel (MapInPandas, "
        "zero Exchange, zero Join); query distance tables broadcast "
        "into ONE (s, code) BroadcastHashJoin; integer-sum agg + "
        "per-query rank window. No SMJ, no cartesian."
    ),
    "pipe_ann_pq_rerank": (
        "The ADC shortlist plan plus an exact-rerank tail: the "
        "c-candidate shortlist equi-joins raw vectors by vec_id and "
        "broadcasts the query vectors — the corpus is never scanned a "
        "second time at full dimension."
    ),
    "pipe_vocab_coverage": (
        "Vocab trains in ONE term groupBy and broadcasts into the "
        "token stream (LEFT join); final source groupBy. The corpus "
        "never shuffles on anything wider than the source key."
    ),
    "pipe_pack_efficiency": (
        "The packing window's group exchange is the only hash "
        "exchange — the per-bin and per-group rollups both reuse it."
    ),
    "pipe_curriculum_phases": (
        "The only Window runs over the <=1001-row integer-score "
        "histogram; the corpus gets its phase back by broadcast join. "
        "No global corpus sort."
    ),
    "graph_label_propagation": (
        "Checkpoint-truncated tail (the per-round shape is one "
        "adjacency-labels equi-join + groupBy + argmax window, pinned "
        "with checkpointing neutralized in test_plan_budgets)."
    ),
    "pipe_curation_chain_v5": (
        "Four certified stages composed: DSIR broadcast-ratio scoring, "
        "span-gate window, exact-dedup groupBy, mixture rollup — each "
        "stage boundary is a materialized doc_id-keyed frame."
    ),
    "pipe_ann_ivfpq": (
        "Residual encode: broadcast centroid join + map-side code "
        "projection. Serving: (cell, s, code) BroadcastHashJoin + one "
        "integer-sum groupBy. No SMJ, no cartesian anywhere."
    ),
    "pipe_search_rrf": (
        "Two certified retrieval plans feed a result-list-sized "
        "full-outer merge + one ranking window — fusion cost is "
        "independent of corpus size."
    ),
    "pipe_dedup_minhash_incremental": (
        "One signature groupBy over base+shard; the band-bucket join "
        "probes with the SHARD side; the signature-agreement estimate "
        "is inline column arithmetic on the two wide rows."
    ),
    "graph_modularity": (
        "One pass: two broadcast left label joins onto the undirected "
        "edge list, a map-side endpoint explode, ONE map-combinable "
        "groupBy(label) for (e_in, d_tot) and a 1-row rollup. The q_ppm "
        "floor-division rides the pmod idiom so Spark matches DuckDB's "
        "floor semantics on negative Q."
    ),
    "ts_mann_kendall": (
        "The daily table is checkpointed (Scan ExistingRDD), so events "
        "is scanned once for its four consumers; the pair join and the "
        "tie/count aggs all key on event_type over metadata-scale rows."
    ),
    "ts_ar1_forecast": (
        "One daily agg exchange, a lag window, one per-key 5-value "
        "agg — no join node anywhere in the plan."
    ),
    "ops_hll_distinct": (
        "One (grp, reg) max-agg over the stream; the groups-by-64 "
        "empty-register grid arrives by BroadcastNestedLoopJoin (it is "
        "group-count-sized); truth joins alongside for the attestation."
    ),
    "pipe_blocklist_filter": (
        "Explode feeds a literal isin filter (no terms table to join); "
        "per-doc agg, then ONE left join restores clean docs."
    ),
    "pipe_tokenizer_fertility": (
        "Whole plan is projection + one hash aggregate pair "
        "(partial/final) on lang — the 1-Exchange shape the budget "
        "test pins."
    ),
    "pipe_embed_whitening": (
        "posexplode widens in-row; the 64-row dim stats return via "
        "BroadcastHashJoin onto the exploded stream — the corpus side "
        "is never re-shuffled."
    ),
    "graph_copurchase": (
        "Baskets collect in one groupBy(order); pair enumeration is an "
        "in-row higher-order projection feeding the pair agg — two "
        "Exchanges total, zero joins, TakeOrderedAndProject top-k."
    ),
    "pipe_unigram_segment": (
        "explode+distinct is the only Exchange; MapInPandas runs the "
        "integer Viterbi DP per word type with the piece dict as a "
        "closure literal — no collect, no join."
    ),
    "pipe_quality_classifier": (
        "One explode + one per-doc HashAggregate pair; weights are "
        "inline codegen arithmetic on the bucket id — the hashing "
        "trick means no weight table and no Join node."
    ),
    "pipe_span_corruption": (
        "posexplode + the per-doc islands window + per-doc aggs, all "
        "partitioned by doc_id; mask draws are pure projection "
        "arithmetic against a precomputed integer threshold."
    ),
    "pipe_curation_chain_v6": (
        "Denylist and classifier gates both reduce to per-doc "
        "aggregates joined back onto the kept corpus (materialized "
        "once); dedup survivors and the fertility manifest reuse it."
    ),
    "pipe_vocab_prune_impact": (
        "Same single-Exchange MapInPandas shape as the segmenter — "
        "both vocab decodes run inside ONE Arrow pass, so pruning "
        "analysis costs no extra shuffle."
    ),
    "ops_bitmap_index": (
        "One groupBy(word)+bit_or per predicate builds the packed "
        "masks; the AND is a word equi-join + & + bit_count — set "
        "intersection at 32 keys per integer op, plus 1-row rollups."
    ),
    "ops_k_anonymity": (
        "One hash-aggregate pair over the QI tuple and a "
        "TakeOrderedAndProject for the worst groups — no join."
    ),
    "pipe_target_encoding": (
        "Per-category agg plus a 1-row global-sums broadcast (the "
        "rational prior's numerator/denominator travel as columns, "
        "never a float)."
    ),
    "ts_winsorized_mean": (
        "Band agg (percentile_disc pair) broadcast back onto the "
        "staged scan; the clamped re-agg is map-combinable."
    ),
    "ops_record_linkage": (
        "Candidate pairs exist ONLY behind the blocking-key equi-join "
        "(nation, segment); scoring and the match filter are pure "
        "projection over block-sized pair frames."
    ),
    "ops_slo_burn_rate": (
        "One hash-aggregate pair on the hour index, integral burn "
        "division in the projection, TakeOrderedAndProject for the "
        "worst hours — no join."
    ),
    "ops_ab_ztest": (
        "Per-unit conversion agg, 2-row arm rollup, and a 1x1 "
        "BroadcastNestedLoop to lay the arms side by side — the z "
        "formula is pure projection arithmetic."
    ),
    "ts_percentile_bands": (
        "ONE hash aggregate per (key, day) with the sort-based "
        "percentile_disc pair inside — no join, no window."
    ),
    "graph_degree_hist": (
        "Edge-dedup, degree, and bucket groupBys — three "
        "map-combinable aggregates, the log2 bucket via the "
        "binary-string-length projection."
    ),
    "pipe_dedup_posting_advisor": (
        "The one-pass cap advisor in front of the O(Σ postings²) "
        "family: shingles → ONE map-combinable per-shingle count agg, "
        "count-of-counts histogram for the median (window over the "
        "bounded histogram frame, never the corpus), decimal(38) ppm "
        "shares. No self-join anywhere in the plan — that is the "
        "point."
    ),
    "pipe_dedup_jaccard_advised": (
        "The family's headline adaptive shape: the advisor's bounded "
        "1-row collect has already fired when this plan is captured, "
        "so the tree is the CHOSEN branch — the posting-capped "
        "window-filtered inverted-index self-join, shingle frame "
        "reused from the advisor's cache (InMemoryTableScan)."
    ),
    "pipe_dedup_containment_advised": (
        "Same advisor dispatch and cached shingle scan as the "
        "jaccard-advised plan; the join differs only in the "
        "denominator (min size, containment ppm)."
    ),
    "pipe_dedup_winnow_advised": (
        "The advisor re-keyed to winnow fingerprints: posexplode + "
        "per-doc window selects fingerprints once (cached), the "
        "capped self-join consumes the same cache."
    ),
    "pipe_ann_ivf_multiassign": (
        "a=2 assignment is an array-valued cell projection + explode "
        "that stays MAP-SIDE (no exchange before the cell equi-join); "
        "candidate dedup folds into the ranking window."
    ),
    "pipe_ann_ivfpq_rerank_serve": (
        "IVFADC-R's production serving shape: the codes scan carries "
        "PartitionFilters on the probed cells (partition pruning, not "
        "a filter operator), the ADC shortlist joins broadcast "
        "distance tables, and the exact rerank is one "
        "shortlist-sized equi-join against the raw vectors — the "
        "corpus is scanned once, pruned."
    ),
    "stream_admission_sim": (
        "The only window sort runs over the bounded trigger frame "
        "(n/batch_rows rows); the corpus side is a map-side admission "
        "flag + one map-combinable groupBy(event_type). The trigger "
        "watermark frame joins back via broadcast."
    ),
    "graph_resource_alloc": (
        "Wedge self-join with the CENTER degree broadcast-joined "
        "before the (a,b) rollup — the per-wedge 1/deg weight is "
        "map-side; one map-combinable groupBy, left-anti against the "
        "edge set, TakeOrderedAndProject for the top-k."
    ),
}

HEADER = """# PLANS — captured physical plans for representative workloads

Generated from `df.explain('formatted')` at sf0.01, `local[4]`,
`spark.sql.shuffle.partitions=4` (plan shape, not timing, is the
point — Exchange/codegen structure is identical at cluster scale).
Regenerate with `python tools/gen_plans.py` after plan-affecting
changes; the per-plan notes state what to look for.
"""


def main() -> None:
    from query_refinement_dsit_databases_2021_spark import get_spark
    from query_refinement_dsit_databases_2021_spark.workloads import workloads

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=4)
    ws = workloads()
    out = [HEADER]
    for name, note in NOTES.items():
        df = ws[name].fn(spark, sf_dir)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        tree = plan.split("\n\n")[0]
        tree = re.sub(r"\(\d+\)", "(·)", tree)  # stable diffs across runs
        out.append(f"## {name}\n\n{note}\n\n```\n{tree}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
