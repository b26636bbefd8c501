#!/bin/bash
# Standing 10x-scale bench (VERDICT r13 #1): the committed BENCH_SF1.json
# protocol, reproducible from a clean checkout.
#
#   tools/run_bench_sf1.sh [replica_dir]
#
# - replica: deterministic 10x stride-offset copy of sf0.1 (make_replica.py;
#   regenerated only if absent), which plants 10-deep exact-dup families in
#   every content column -- the duplicate/skew class the sweep hunts.
# - protocol: graft.Bench (same warmup + 3-pass-median + byte columns as the
#   sf0.1 round bench), local[nproc], a heap of at most 8g (the tight-heap
#   stress contract; tools/jvm_env.sh derives both).
# - surface: FULL by default (every SparkEntry query, VERDICT r14 #3);
#   SPARK_GRAFT_SF1_SCOPE=scale restores the rotating 61-query scale
#   surface (top-25 most expensive sf0.1 queries + the dedup/graph/ANN
#   shelves + newest rows) when the full wall cost is not worth paying.
# - artifact: BENCH_SF1.json in the repo; the Bench regression tripwire
#   compares future runs against it per query (wall vs bytes adjudication).
set -e
REPLICA=${1:-/tmp/sf1}
. "$(dirname "$0")/jvm_env.sh"
if [ ! -d "$REPLICA" ]; then
  echo "[sf1] building 10x replica at $REPLICA"
  python3 tools/make_replica.py /root/testdata/sf0.1 "$REPLICA" 10
fi
SCALE_ONLY="q_ann_bruteforce,q_ann_probe_curve,q_classifier_calibration,q_ann_ivf,q_ann_lsh,q_ann_quantized,q_ann_recall,q_approx_distinct,q_assortativity,q_basket_pairs,q_bloom_join,q_centroid_assign,q_centroid_shift,q_cluster_keywords,q_cluster_quality,q_clustering_coeff,q_colloc_lift,q_components,q_contamination,q_corpus_build,q_dedup_clusters,q_dedup_containment,q_dedup_embedding,q_dedup_exact,q_dedup_minhash,q_dedup_segment,q_dedup_simhash,q_degree_stats,q_dup_by_batch,q_dup_flow,q_dup_source,q_dup_summary,q_dup_tokens,q_embed_centroid,q_embed_outlier,q_embed_stats,q_entity_match,q_entity_best_match,q_fact_build,q_graph_modularity,q_hashed_classifier,q_hybrid_search,q_kcore,q_label_prop,q_link_predict,q_lsh_bucket_stats,q_minhash_error,q_ngram_jaccard,q_norm_hist,q_novelty_curve,q_pagerank,q_phash_dedup,q_prefix_dedup,q_quality_score,q_quant_recall,q_reconcile,q_rrf_fusion,q_semdedup,q_span_dedup,q_span_excise,q_span_leaderboard,q_suffix_dedup,q_triangles,q_user_overlap,q_window_rank"
if [ "${SPARK_GRAFT_SF1_SCOPE:-full}" = "scale" ]; then
  export SPARK_GRAFT_ONLY="$SCALE_ONLY"
fi
SPARK_GRAFT_SF_DIR="$REPLICA" SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json \
  java $GRAFT_JVM -cp "$GRAFT_CP" graft.Bench
