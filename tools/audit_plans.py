"""Physical-plan audit: scan every registered query's executed plan for
anti-patterns — cartesian products where none is intended, scans without
pushed filters where one is expected, missing broadcasts.

    python tools/audit_plans.py [--sf DIR] [name ...]

Prints one line per query: flags or 'clean'. Intended red flags:
- CartesianProduct / BroadcastNestedLoopJoin on large×large inputs
  (some are by design: 1-row scalar broadcasts from agg results)
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries where a nested-loop join is BY DESIGN: broadcasting a 1-row
# aggregate (min/max/count) back into the plan. Sparse query norms are
# not on this list: the driver computes each query vector, norm
# included, from one idf lookup (operators/sparse._query_weights),
# batched queries included, and the match takes it as a literal map,
# so no sparse scorer adds one.
SCALAR_BROADCAST_OK = {
    "fusion_dual_model_ensemble",
    "fusion_dual_model_d64_arms",  # min-max norm: 1-row scalar broadcast per list
    "fusion_dual_model_true_d768",  # same min-max 1-row broadcasts, at width
    "fusion_l2_dedup_max",
    "fusion_hybrid_sparse_dense",  # min-max norm: 1-row min/max broadcast per fused list
    "trimodal_context_search",
    "speech_asr_bm25_search",  # in-plan BM25 fit: 1-row n/avgdl/avgidf scalar broadcasts
    "ocr_tfidf_search",        # in-plan TF-IDF fit: 1-row corpus-size (n) scalar broadcasts
    "dense_knn_by_id",       # 1-row reconstructed query vector
    "endpoint_image_search",  # same knn_by_id 1-row anchor, behind the facade
    "monitor_text_oov_rate",  # fit_tfidf's 1-row corpus-size broadcast in the model branch
    "dense_rocchio_rerank",  # tiny vote set cross candidates
    "endpoint_feedback_rerank",  # same rocchio vote-set cross, behind the facade
    "emb_near_dup_exact",    # all-pairs audit path: cross join BY DESIGN
    # (ann_ivf_topk_cosine / ann_recall_at_k no longer need an entry:
    # the quantizer assignment is precomputed — index_store.ivf_assignments)
    "ann_lsh_family_grid",   # 1-row candidates × 1-row hits scalar combine per config
    "ann_ivf_family_grid",   # same 1-row scalar combine per (variant, config)
    "multimodal_audio_family_grid",  # 1-row stats × planted × found scalar combine per arm
    "dense_batch_topk_cosine",  # corpus × request-sized query batch
    "text_bigram_lm_scores",    # 1-row vocabulary-size scalar broadcast
    "tpch_q22_dormant_balance", # 1-row avg-balance threshold broadcast
    "tpch_q11_important_parts", # 1-row total-value threshold broadcast
    "skew_salted_join_lang",    # salted_join replicates the dim across shards BY DESIGN
    "sketch_kmv_distinct_tokens",  # 1-row sketch × 1-row exact-count scalar combine
    "sketch_binned_quantiles",     # bins × quantile-target theta join: both driver-sized
    "dedup_lsh_recall_audits",     # 1-row n_true × n_found scalar combines, both arms
    "monitor_token_drift",         # two 1-row corpus-total scalar broadcasts
    "events_resample_hourly_gapfill",  # hour-grid × type-dim densify: the product space IS the output
    "ann_incremental_recall_drift",  # 1-row candidates × hits × max-cell scalar combine per arm
    "index_lifecycle_end_to_end",    # 1-row per-stage gauge scalar combines
    "dedup_semantic_recall_audits",  # exact all-pairs audit side + 1-row count combines, both arms
    "curation_quality_threshold_grid",     # 4-row threshold-dim fanout + 1-row total combine
}


# queries that legitimately scan ALL of lineitem (no row filter exists
# to push: whole-table aggregation / join probe side)
LINEITEM_FULL_SCAN_OK: set[str] = set()

# queries whose dimension-hydration join MUST be a broadcast hash join
# (a shuffled hydration join at 100 TB re-shuffles the fact side to
# attach a dim that fits in memory)
HYDRATION_BROADCAST_EXPECTED = {
    "hydrate_dense_hits",
    "endpoint_textsearch_grouped",
}

# queries whose scan MUST carry a non-empty PartitionFilters entry
# (directory-level pruning on a partitioned layout)
PARTITION_PRUNING_EXPECTED = {
    "sink_partitioned_parquet_pruned",
    # IVF and IVF-PQ: the driver elects the nprobe cells
    # (ann.elect_cells), so the cell prune is a STATIC `cid IN (...)`
    # partition filter, pruned at planning time (only the elected
    # cells are read, and for IVF the co-located vectors make that the
    # ONLY data the query touches)
    "ann_ivf_topk_cosine",
    "ann_ivfpq_adc_topk",
    # LSH: ann.band_probe's static `band = b AND bval IN (...)`
    # predicate prunes the (band, bval)-partitioned banding at planning
    # time, at radius 0 and 1, filtered, batched and behind the cascade
    "ann_lsh_topk_cosine",
    "ann_lsh_multiprobe_topk",
    "ann_lsh_filtered_topk",
    "ann_lsh_batch_topk",
    "ann_cascade_topk_pruned",
}

# queries whose whole plan must be Exchange-free: every input reads
# the SAME persisted bucketed layout (bucketBy doc_id, equal bucket
# counts), so aggregation and join both reuse the scan's partitioning
# — any Exchange (hash/range/broadcast) means the co-location broke
NO_EXCHANGE_EXPECTED = {
    "bucketed_join_zero_shuffle",
}

# queries whose plan must carry an injected runtime bloom filter
# (bloom_filter_agg on the dim side, applied pre-shuffle on the fact
# scan side)
BLOOM_FILTER_EXPECTED = {
    "join_runtime_bloom_filter",
}

# queries whose per-group rank filter must compile to the
# WindowGroupLimit pushdown (map-side per-group top-k pruning before
# the shuffle) — a full WindowExec here means shuffle volume is
# O(rows), not O(groups*k*partitions)
WINDOW_GROUP_LIMIT_EXPECTED = {
    "events_top3_per_user",
    "group_quota_topk",  # quota rank-filter must prune per-group before the shuffle
}

def audit(name: str, plan: str) -> list[str]:
    flags = []
    if "CartesianProduct" in plan and name not in SCALAR_BROADCAST_OK:
        flags.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in SCALAR_BROADCAST_OK:
        flags.append("BroadcastNestedLoopJoin")
    # parquet scans on the big fact tables should carry pushed filters
    # when the query filters them (plans print `PushedFilters: []`
    # when nothing reached the scan)
    for m in re.finditer(r"FileScan parquet.*?(?=\n)", plan):
        line = m.group(0)
        if (
            "lineitem" in line
            and "PushedFilters: []" in line
            and name not in LINEITEM_FULL_SCAN_OK
        ):
            flags.append("lineitem scan without pushed filters")
    if name in HYDRATION_BROADCAST_EXPECTED and "BroadcastHashJoin" not in plan:
        flags.append("hydration join is not broadcast")
    if name in PARTITION_PRUNING_EXPECTED and not re.search(
        r"PartitionFilters: \[(?!\])", plan
    ):
        flags.append("partition filter did not prune")
    if name in NO_EXCHANGE_EXPECTED and "Exchange" in plan:
        flags.append("exchange in a co-located bucketed plan")
    if name in BLOOM_FILTER_EXPECTED and "bloom_filter_agg" not in plan:
        flags.append("runtime bloom filter not injected")
    if name in WINDOW_GROUP_LIMIT_EXPECTED and "WindowGroupLimit" not in plan:
        flags.append("per-group top-k not pushed down (no WindowGroupLimit)")
    return flags


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as se
    from multi_search_retrival_big_data_spark.session import get_spark

    spark = get_spark("audit-plans")
    qs = se.queries()
    names = args.names or [n for n in qs if not n.startswith("stream_")]
    bad = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            if df.isStreaming:
                print(f"SKIP {name}: streaming")
                continue
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            bad += 1
            continue
        flags = audit(name, plan)
        if flags:
            bad += 1
            print(f"FLAG {name}: {', '.join(flags)}")
        else:
            print(f"ok   {name}")
    print(f"\n{len(names) - bad}/{len(names)} clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
