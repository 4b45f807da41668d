"""Write PLANS.md: formatted physical plans of representative queries with
the design commentary they demonstrate — evidence that the logical plans compile to
the physical shapes the 100 TB design intends (pushdown, pruning, broadcast,
TakeOrderedAndProject, partial aggregation).

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cobalt_duckdb_spark.plans import formatted_plan
from cobalt_duckdb_spark.queries import QUERIES
from cobalt_duckdb_spark.session import get_spark

SHOWCASE = {
    "flagship_knn_cosine_topk": (
        "The reference's canonical query. Things to see: the embeddings scan "
        "reads ONLY (vec_id, embedding) (ReadSchema pruning); orderBy+limit "
        "compiled to TakeOrderedAndProject (per-partition top-k heaps, no "
        "global sort); the k-row result broadcasts for the documents join."
    ),
    "q3_shipping_priority": (
        "TPC-H Q3. Things to see: date/segment filters pushed to every scan "
        "(PushedFilters); the segment-filtered customer side broadcast; the "
        "only shuffle is lineitem⋈orders on orderkey + the group-by, both "
        "AQE-managed; partial_sum before the exchange (map-side combine)."
    ),
    "join_asof_last_click_before_error": (
        "As-of join via union + running last(ignorenulls). Things to see: "
        "ONE Exchange hashpartitioning(user_id) feeding the window — no "
        "range-join row explosion anywhere in the plan."
    ),
    "dedup_ngram_jaccard_pairs": (
        "Inverted-index set-similarity join. Things to see: the self-join on "
        "the shingle hash (never a doc×doc cross product); hash aggregate "
        "counting common shingles; the persisted InMemoryTableScan feeding "
        "both join branches."
    ),
    "cluster_kmeans_lloyd": (
        "Iterative algorithm as ONE lazy plan (2 Lloyd iterations). Things "
        "to see: each assignment is BroadcastNestedLoopJoin against the "
        "k-row centroid table (deliberate tiny-side broadcast, never a "
        "shuffled cross join); argmin is a hash aggregate (struct-min with "
        "partial_min before the exchange — map-side combine), not a "
        "per-vector window sort; re-averaging shuffles only (cid, dim) "
        "pairs. No collect() anywhere — the whole loop is Catalyst-visible."
    ),
    "simsearch_pq_adc_topk": (
        "Product-quantization ADC search. Things to see: codebook and "
        "lookup-table sides are BroadcastExchange (M·K rows, bounded); the "
        "codes⋈LUT join is a BroadcastHashJoin on (sub, code) — the scan "
        "side is the compressed index, never the raw vectors; the final "
        "per-query ranking is a window over the summed partials."
    ),
    "graph_pagerank_event_flow": (
        "Fixed-iteration PageRank over the one-row transition matrix. "
        "Things to see: Exchanges on user_id (sequence window), (i, j) "
        "(pair counts) and i (row totals), then one SinglePartition "
        "aggregate builds the matrix row; the 10 power steps are one "
        "aggregate(sequence) expression inside the Generate that returns "
        "a row per event type — no join per step, no Scan ExistingRDD "
        "leaf."
    ),
    "events_peak_concurrent_incidents": (
        "Sweep-line interval concurrency. Things to see: the union of "
        "+1/−1 deltas feeds ONE Exchange hashpartitioning(day); the running "
        "sum and the per-day max share that partitioning — no quadratic "
        "overlap join anywhere."
    ),
    "simsearch_ivfpq_adc_topk": (
        "IVF+PQ composed index (FAISS IVF16,PQ8 shape). Things to see: "
        "cell assignment and PQ encode are pure Projects over a "
        "BroadcastNestedLoopJoin with the one-row packed codebook — "
        "array_min over (distance, cid) structs, NO per-vector window "
        "exchange anywhere in the encode path; candidate pruning joins the "
        "broadcast probe list before any distance work; the ADC sum is a "
        "partial-aggregated hash aggregate."
    ),
    "join_asof_nearest_click_to_error": (
        "Nearest as-of join (pandas merge_asof direction='nearest', which "
        "neither engine has natively). Things to see: ONE Exchange "
        "hashpartitioning(user_id) and ONE Window node evaluating BOTH "
        "frames (running last for the backward candidate, mirrored first "
        "for the forward) — two directions for the price of one shuffle; "
        "the final pick is a scalar CASE, no second pass."
    ),
    "events_ewma_user_value": (
        "EWMA as a sequential fold. Things to see: one Exchange "
        "hashpartitioning(user_id) feeding a Window whose frame emits the "
        "trailing-20 array; the recurrence itself is a Project (aggregate "
        "higher-order function, codegen'd) — no UDF, no iterative joins."
    ),
    "graph_triangle_parts": (
        "Oriented triangle counting. Things to see: the co-order pair "
        "build partial-aggregates before its Exchange; the wedge and "
        "closing joins are keyed shuffles on single part keys (low→high "
        "orientation bounds each node's fan-out); the final per-part count "
        "is TakeOrderedAndProject."
    ),
    "join_asof_bucketed_click_before_error": (
        "Skew-safe as-of join (r3). Things to see: the heavy Window "
        "partitions on (user_id, BUCKET) — a hot user's history splits "
        "across buckets instead of one task's sort; the carry path is a "
        "per-(key, bucket) hash aggregate plus a window over the tiny "
        "spine (rows = distinct key×bucket, not data); the final carry "
        "join is keyed on the same (key, bucket) the local pass shuffled "
        "on."
    ),
    "matryoshka_recall_audit": (
        "Matryoshka truncation audit (r3). Things to see: BOTH KNN passes "
        "are broadcast-query map-only scans over the SAME embeddings "
        "column — the 16-dim prefix is a slice() Project at scan time, "
        "not a second materialized table; each pass ends in its own "
        "per-query top-k window; the overlap join moves only 2×k rows "
        "per query."
    ),
    "dedup_embedding_srp_lsh": (
        "SRP LSH over embeddings. Things to see: the signature is a "
        "map-only ArrowEvalPython (pandas_udf matmul) projection — it "
        "appears once per side of the bucket self-join because recomputing "
        "a map-only stage is cheaper than materializing a vector-wide "
        "table (persist would trade local-disk I/O for a BLAS matmul); no "
        "shuffle until the (band, bkey) join; candidate verification (the "
        "zip_with/aggregate cosine) runs AFTER the join, so exact math "
        "touches only candidates; no CartesianProduct anywhere."
    ),
    "dedup_semdedup_dropped": (
        "SemDeDup. Things to see: the k-row seed table broadcasts into a "
        "BroadcastNestedLoopJoin (deliberate: k rows) followed by a "
        "struct-min hash aggregate (partial_min before the exchange) — "
        "assignment never sorts a window; the per-cluster prune is ONE "
        "FlatMapGroupsInPandas (applyInPandas) on the cid shuffle."
    ),
    "events_incremental_rollup_merge": (
        "Incremental view maintenance. Things to see: BOTH rollup branches "
        "partial-aggregate map-side (partial_count/sum/max before their "
        "exchanges) on disjoint pushed-down filters; the merge is a "
        "SortMergeJoin over |days×types| rows of partials — history is "
        "never re-scanned, which is the entire point at 100 TB."
    ),
    "embedding_pca_power_iteration": (
        "Spectral audit, two-phase. Things to see: the ONLY corpus-wide "
        "stage is the covariance build (posexplode self-join partial-"
        "aggregating into d^2=4096 (i,j) sums), behind the one Scan "
        "ExistingRDD leaf left: the covariance's lazy localCheckpoint. A "
        "global collect_list turns it into ONE row, and the 6 squarings, "
        "the direction and the Rayleigh quotient are one Project of "
        "aggregate/transform expressions over it, read out by a "
        "posexplode — no checkpoint or job per squaring. C^64 "
        "convergence without a spectral gap."
    ),
    "dedup_cdc_chunk_report": (
        "Content-defined chunking. Things to see: tokenize (posexplode), "
        "the rolling 4-gram lead windows, and the running-sum chunk "
        "assignment all share ONE Exchange on doc_id (one sort serves "
        "three window frames); the chunk aggregate is co-partitioned — "
        "no second shuffle until the tiny fingerprint rollup."
    ),
    "simsearch_recall_nprobe_curve": (
        "Index-tuning audit. Things to see: cell assignment and exact "
        "ground truth each computed ONCE (shared subplans), with the "
        "nprobe axis joined in as a 3-row BroadcastExchange — the curve "
        "costs one pass plus candidate scoring, not |settings| re-runs."
    ),
    "events_markov_absorption": (
        "Iterative linear algebra. Things to see: ONE corpus-wide stage "
        "(the user_id sequence window feeding the transition counts); "
        "the counts are collected into one |types|^2-cell row, and the 7 "
        "doublings of the 128-term fundamental-matrix series are a "
        "single aggregate expression in one Project over it, read out by "
        "a posexplode — no ExistingRDD leaf, no build job."
    ),
    "stats_ks_two_sample": (
        "Distribution-free drift gate. Things to see: group sizes come "
        "from unbounded-window totals over the SAME sort the ECDF "
        "running sums use — one Exchange, one Sort, no driver-side "
        "count() feeding literals; the final reduction is a single-row "
        "aggregate."
    ),
    "simsearch_binary_hamming_topk": (
        "The 1-bit quantization tier. Things to see: packing is pure "
        "codegen over the embeddings scan (no shuffle before the join); "
        "the 3-row query side is a BroadcastExchange; distance is two "
        "XOR+popcounts inside the join projection — the scan streams "
        "8-byte signatures, not 512-byte vectors; per-query top-k is a "
        "rank window over the filtered candidates."
    ),
    "multimodal_ahash_neardup_pairs": (
        "Perceptual-hash dedup, and the HOF-CSE lesson (SCALE.md). "
        "Things to see: signature extraction ends at a Scan ExistingRDD "
        "leaf (localCheckpoint) — withOUT that boundary, CollapseProject "
        "substitutes the 64-substring pixel array into the avg threshold "
        "and both packing lambdas (147 s vs 0.9 s at sf0.1); the pair "
        "join keys on the length bucket with the Hamming predicate as "
        "join condition over 16 bytes/row."
    ),
    "events_markov_removal_attribution": (
        "Counterfactual composition. Things to see: ONE user-sequence "
        "window yields pair counts, occupancy totals and first events; "
        "they are collected into one matrix row, a Generate explodes it "
        "into five variant rows (full graph + one per removed channel), "
        "and each row's absorbing-chain solve is one aggregate expression "
        "in the Project above; a global window pairs every removal with "
        "the full-graph conversion — no ExistingRDD leaf, no build job, "
        "no thread pool."
    ),
}


def main() -> None:
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical-plan evidence for representative queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.01; plans are "
        "pre-execution, so AQE re-optimization notes appear as "
        "`AdaptiveSparkPlan isFinalPlan=false`).",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = QUERIES[name](spark, sf_dir)
        out += [f"## {name}", "", why, "", "```", formatted_plan(df).strip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
