"""Scaling probe: run selected headline queries at sf0.001 / 0.01 / 0.1
and report best-of-3 times + the 0.01->0.1 scaling exponent. A plan that
holds at 100 TB shows ~linear time in input size here (exponent <= ~1)
once per-job fixed overhead (~0.1-0.3 s locally) stops dominating; a
superlinear exponent flags an all-pairs/plan-cliff bug. Usage:

    python tools/scale_probe.py [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

from bench import REBUILD_PER_REP as BENCH_REBUILD  # noqa: E402

DEFAULT = [
    "q1_pricing_summary", "q3_top_revenue_orders", "q7_nation_trade",
    "q18_large_orders", "dedup_minhash_lsh", "dedup_exact_stats",
    "ta_term_frequency", "td_tokenize_ids", "v2_cosine_topk",
    "v20_binary_hamming_topk", "td_split", "q_full_outer_join",
    # the quadratic-risk composites — candidate-pair generation, corpus-wide
    # document-frequency joins, and iterative clustering are exactly where
    # an all-pairs bug would show as a superlinear exponent
    "td_curation_funnel", "ta_dup_ngram_coverage", "td_prepare_corpus_v2",
    "dedup_clusters", "ta_heavy_hitters",
    # r5 session-2/3 additions: passage dedup + eval-embedding gate
    "td_span_dedup", "td_semantic_decontaminate",
    # r5 session-5: the corpus×corpus split-leakage join is the newest
    # quadratic-risk shape; sweep + index query ride along as cheap pins
    "td_split_leakage", "dedup_threshold_sweep", "v22_ann_index_topk",
    # r5 session-7: bloom probe (bitmap-bounded join), CDC chunk dedup
    # (corpus-wide chunk-frequency window), LSH-blocked kNN graph
    # (bucket² pair risk)
    "dedup_bloom_membership", "ta_cdc_chunks", "v23_knn_graph",
    # r6 (VERDICT r5 #6): the five new heavy bench entries — iterative
    # PageRank over the kNN graph (edge rebuild + 4 join/agg rounds),
    # shingle-novelty window (corpus-shingle shuffle), the one-row corpus
    # datasheet (multi-distinct agg), plus the r6 bisection relations
    # (pair set / cluster map at the composites' 0.5 threshold)
    "v24_graph_pagerank", "ta_ngram_novelty", "td_dataset_card",
    "diag_prep_pairs", "diag_prep_clusters",
    # r7 (VERDICT r6 #5): the r6-tail audits with no probe rows yet, plus
    # the round's new heavy ops — the iterative BPE trainer (type-table
    # rounds) and the dedup-vs-index incremental-ingest composite
    "td_bpe_first_merges", "ta_bigram_diversity",
    "dedup_cluster_size_histogram", "td_dedup_policy_ablation",
    "td_dedup_provenance", "dedup_lsh_bucket_report",
    "td_bpe_train", "td_incremental_ingest", "q_asof_tolerance",
    "td_bpe_segment", "st_bpe_fertility",
]

#: queries whose plan build runs eager work (per-round checkpoints,
#: collects, streaming runs); timing only the final write would skip it,
#: so these rebuild the DataFrame inside each rep. bench.py's set plus
#: the probe-only queries bench does not time, unioned as in
#: tools/scale_rehearsal.py so the two sets cannot drift.
REBUILD_PER_REP = BENCH_REBUILD | {
    # duplicate_clusters' per-round localCheckpoints
    "dedup_clusters", "diag_prep_clusters",
    # BPE train rounds and the streaming run execute at build time
    "td_bpe_segment", "st_bpe_fertility"}

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]


def main() -> int:
    from multiagent_document_etl_system_spark import get_spark
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    names = sys.argv[1:] or DEFAULT
    spark = get_spark(app_name="scale-probe")
    QUERIES["q_global_topk"][0](spark, SFS[0]).collect()  # warm session
    print(f"{'query':28s} {'sf0.001':>8s} {'sf0.01':>8s} {'sf0.1':>8s} "
          f"{'exp(0.01->0.1)':>14s}")
    for name in names:
        fn, _ = QUERIES[name]
        rebuild = name in REBUILD_PER_REP
        best = []
        for sf in SFS:
            df = fn(spark, sf)
            df.write.format("noop").mode("overwrite").save()  # JIT warm
            reps = []
            for _ in range(3):
                t0 = time.time()
                (fn(spark, sf) if rebuild else df) \
                    .write.format("noop").mode("overwrite").save()
                reps.append(time.time() - t0)
            best.append(min(reps))
        exp = math.log(best[2] / best[1], 10)
        print(f"{name:28s} {best[0]:8.3f} {best[1]:8.3f} {best[2]:8.3f} "
              f"{exp:14.2f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
