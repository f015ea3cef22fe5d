"""Benchmark harness — driver contract (BASELINE.md grid).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line as the FINAL stdout line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {headline subset},
"sf": ..., plus the x10/skew worst ratios, d=768 recalls and the
concurrency anchor}. The FULL per-query record (every anchor, every
tier, drift spreads, candidate volumes) is written to
BENCH_DETAIL.json next to this script — the driver's stdout capture
is bounded (~2000 chars), so the final line is deliberately sized
under that and the file carries the round-over-round detail.

Each query is executed once to warm the JVM/scan caches' code paths
(not cached data — a fresh action re-reads parquet), then timed over
`RUNS` runs taking the median, with a count() action to force full
execution without driver-side collect overhead.

SCALE-STRESS TIER: at the default sf0.1 (or with
SPARK_GRAFT_STRESS=1) the most expensive queries are ALSO timed on a
deterministic 10×-replicated copy of the corpus (docs Caesar-remapped
per replica so replicas don't become near-duplicates of each other —
the dedup workload keeps its per-document character instead of
degenerating into 10-cliques). The extra `tiers` field reports both
tiers plus the per-query scale ratio, separating constant-factor
noise from real super-linear regressions (a ratio ≲ replication ×
log-factor means the operator scales; sf0.1 deltas of ±0.3 s cannot
show that).

SKEWED-STRESS TIER (same trigger): a second 10× corpus that is
ADVERSARIALLY skewed instead of uniform — replicas 0-2 all carry
lang='en' and one source (one key holds ~30% of rows: the 'default
tenant' shape), and ~2% of rows become byte-identical boilerplate (one
mega duplicate cluster: the crawl shape that makes uncapped LSH go
quadratic). Skew-sensitive queries are timed on both 10× corpora;
`skew_ratio` ≈ 1 means the operator's mitigation (salting, mega-bucket
capping, map-side partial agg) holds under hot keys, not just under
uniform growth.

Opt-out / opt-in: SPARK_GRAFT_STRESS=0 disables both stress tiers at
any sf; =1 forces them at any sf; unset = on only at the default
sf0.1. The JSON echoes the flag under "stress_flag".
"""

from __future__ import annotations

import atexit
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RUNS = 3

# ---- wall-clock budget (r8 postmortem, r9 profile split) -------------------
# BENCH_r08.json: rc=124 (driver timeout kill) and parsed=null — the
# compact summary printed only at end-of-run, so a timeout lost every
# number. Three layers, belt and suspenders:
#   1. INCREMENTAL EMISSION — after every timed anchor (and every
#      tier) the compact summary line is re-printed and
#      BENCH_DETAIL.json rewritten, so even a hard kill leaves the
#      driver a parsable final stdout line covering everything that
#      completed.
#   2. WALL-CLOCK BUDGET — SPARK_GRAFT_BENCH_BUDGET_S (default 1340 s;
#      0 = unlimited). Anchors are gated on a PER-ANCHOR cost estimate
#      (last observed median × (runs+1), r9 advice — a bare
#      remaining<=0 check let an anchor start just under the deadline
#      and overshoot by its full cost); not-yet-started anchors/tiers
#      are SKIPPED (recorded under "skipped"/"tiers_skipped") and the
#      run exits 0 with the summary printed. This bounds the overshoot
#      to one mis-estimated anchor, it does not make rc=124 impossible
#      — the external kill timer still wins if an estimate is badly
#      wrong, which is why layer 1 exists.
#   3. DRIVER PROFILE (r9 verdict item 1: the driver run spent its
#      whole budget on the 91-anchor x1 grid + x10 tier and skipped
#      skew/dim768/concurrency): when a budget is set, the x1 grid is
#      SPLIT — the CORE anchors (headline + every tier-ratio
#      denominator + concurrency/drift sets) run first, then ALL tiers
#      in claim order (x10 → skew → d=768 → concurrency), and the
#      remaining x1 anchors run LAST as a per-round ROTATING subset
#      (rotation index = #BENCH_r*.json files on disk, so each driver
#      round measures a different third and every anchor recurs every
#      ~3 rounds). Tiers also drop to median-of-2 runs under a budget.
#      The builder's close run sets SPARK_GRAFT_BENCH_BUDGET_S=0:
#      full grid up front, median-of-3 everywhere, all gauges.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1340"))
TIER_RUNS = 2 if BUDGET_S > 0 else 3
# the skewed tier re-times queries ALREADY measured (med-of-2+) on the
# uniform x10 corpus; its ratios are read coarsely (~1 = guard holds),
# so the driver profile takes one timed run after the warm-up — the
# close run keeps median-of-3
SKEW_RUNS = 1 if BUDGET_S > 0 else 3
X1_RUNS = 2 if BUDGET_S > 0 else 3
ROTATION_GROUPS = 3
_T0 = time.monotonic()

# x10/skew anchors THINNED from the driver profile (close run keeps
# them): each has round-over-round STABLE scale evidence (r5-r9) and a
# cheap-or-row-local plan whose ratio never moved — the budget they
# free keeps all four tiers inside the driver's 1380 s. r11 (verdict
# r10 item 3): they ROTATE like the x1 tail instead of being omitted
# permanently — each round one third of the pool (rotation index =
# #BENCH_r*.json files, the x1 rotation key) re-measures, so a scale
# regression in any of them is visible to the driver within ≤ 3
# rounds instead of never.
DRIVER_X10_OMIT = {
    "dedup_cluster_components",   # uncapped audit twin; capped prod path stays
    "text_bigram_lm_scores",      # row-local agg, ratio ~linear since r5
    "text_simhash_fingerprints",  # banding precursor, stable since r5
    "corpus_embedding_build",     # embarrassingly-parallel Arrow seam
    "curation_pii_redaction",     # row-local regex chain, scan-bound
    # uncapped LSH audit twin: its scaling claim is the lsh_candidates
    # pair-count gauge (computed exactly at x1/x10 in this tier) + the
    # CAPPED production twin's time ratio; its own x10 wall-ratio is
    # quadratic-path ambient noise (5.09 r9 close vs 9.07 r10 replica
    # on identical code) and cost ~48 s of the tier — the single
    # least-stable, least-decision-relevant re-time in the profile
    "dedup_minhash_lsh",
}
DRIVER_SKEW_OMIT = {
    "dedup_exact_groups",              # hash-groupBy guard, stable since r4
    "group_hits_by_source",            # hot-source groupBy, stable since r4
    "curation_weighted_sample_per_lang",  # per-lang window, stable since r5
    "decontamination_semantic_overlap",   # |eval|*|cell| probe, linear r7-r9
}

# the per-round rotation key shared by the x1 tail and the tier omit
# pools: number of recorded driver rounds mod ROTATION_GROUPS
ROTATION_INDEX = len(
    glob.glob(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")
    )
) % ROTATION_GROUPS


def _rotating_omit(pool: set, group: int = ROTATION_INDEX) -> set:
    """This round's EFFECTIVE omit set: the pool minus the third that
    re-measures this round (sorted-order slice group::ROTATION_GROUPS),
    so every pooled anchor re-appears in some driver round ≤
    ROTATION_GROUPS rounds apart (verdict r10 item 3 — a permanent
    omission is a standing blind spot, not a budget win)."""
    ordered = sorted(pool)
    return set(ordered) - set(ordered[group::ROTATION_GROUPS])
# d=768 serving paths measured under the driver profile — the TUNED
# production-geometry configs (what a d=768 deployment actually runs:
# dimension-derived band/probe depth) plus the exact scan and SQ8, which need
# no tuning; the untuned audit variants and PQ (d=768 codebook train)
# belong in the close run, where their recalls are pinned every round
DRIVER_DIM_PATHS = (
    "dense_topk_cosine_arrow",
    "ann_lsh_topk_tuned",
    "ann_ivf_trained_topk_tuned",
    "ann_sq8_topk",
)
CONC_REPS = 2 if BUDGET_S > 0 else 3


def _elapsed() -> float:
    return time.monotonic() - _T0


def _remaining() -> float:
    return math.inf if BUDGET_S <= 0 else BUDGET_S - _elapsed()


def _scratch_mkdtemp(prefix: str) -> str:
    """Throwaway corpus dir under the workspace scratch root, NOT /tmp
    (the r8 run died when external /tmp cleanup reaped live state
    mid-run); registered for cleanup like tempfile.mkdtemp."""
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_scratch")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)

# r4→r5: four queries drifted +0.4-0.8 s between rounds at sf0.1 —
# small absolute, but the bench should distinguish scheduler/GC noise
# from real cost. These are timed over more runs and their full
# (min, med, max) spread is recorded under "drift_watch" so a drifted
# median can be read against its own floor.
DRIFT_RUNS = 4 if BUDGET_S > 0 else 5
DRIFT_WATCH = [
    "group_hits_by_source",
    "dedup_minhash_lsh",
    "emb_near_dup_lsh",
    "stream_tumbling_event_counts",
    # r5→r6: simhash measured 4.26 s in-grid vs 1.6-2.2 s isolated
    # (r4: 1.27 s) and the capped LSH drifted 1.95 → 2.12 s — both get
    # the 5-run min/med/max treatment so a drifted median reads
    # against its own floor (session contention vs real shift)
    "text_simhash_fingerprints",
    "dedup_minhash_lsh_capped",
    # r7→r8: dense_batch_topk_cosine measured 2.14× its r1 baseline in a
    # session where every neighboring anchor drifted ~1.3× uniformly and
    # its Arrow twin sat at 1.10× — 5-run min/med/max decides variance
    # vs a real shift (verdict r7 item 2)
    "dense_batch_topk_cosine",
    # r9→r10: the one headline anchor above its r1 baseline (0.63 vs
    # 0.44, 1.4×) in a session with a pinned ambient factor — 5-run
    # min/med/max either pins it as variance (min ≈ baseline) or
    # catches a real regression (verdict r9 item 8)
    "dense_topk_cosine",
    # r10→r11 (verdict r10 item 1): 11/14 headline anchors measured
    # 0.39-0.91× their r9 medians in one driver session while the SAME
    # code at 8 cores ran them 2-3.4× faster — an ambient/scheduling
    # transient the median-of-2 could not reject. EVERY headline
    # anchor now records its min/med/max spread, and the headline set
    # runs FIRST in the session (before the grid ages the JVM), so a
    # drifted median is always readable against its own floor.
    "dense_topk_cosine_arrow",
    "sparse_tfidf_topk",
    "sparse_bm25_topk",
    "fusion_hybrid_sparse_dense",
    "ann_lsh_topk_cosine",
    "ann_ivf_topk_cosine",
    "ann_pq_rerank_trained_topk",
    "dedup_keep_canonical",
    "dedup_semantic_keep",
    "pipeline_curation_end_to_end",
    "tpch_q1_pricing_summary",
    "endpoint_diverse_search",
]

STRESS_REPLICATION = 10
# the 5 most expensive r2 queries (VERDICT r2 plan-audit list) + the
# new components variant; all documents/embeddings-bound
STRESS_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "dedup_cluster_components",
    "fusion_hybrid_sparse_dense",
    "text_simhash_fingerprints",
    "text_bigram_lm_scores",
    # corpus-bound Arrow/mapInPandas encoder seam — the per-doc md5
    # work is embarrassingly parallel, so its x10 ratio measures the
    # Python-worker scaling of the ingest encode stage
    "corpus_embedding_build",
    # row-local regex chain — its x10 ratio proves the PII scrub stays
    # scan-bound (no shuffle to go super-linear)
    "curation_pii_redaction",
    # the PRODUCTION clustering path (capped candidates + auto
    # components) next to dedup_cluster_components' uncapped audit
    # path — the pair of ratios shows what the mega-bucket cap buys
    "dedup_cluster_components_capped",
    # r5: curation operators whose windows/prefix-sums key on `lang` —
    # exactly what a hot language key stresses (VERDICT r4 item 5)
    "curation_pack_bins",
    "curation_weighted_sample_per_lang",
    "pipeline_curation_end_to_end",
    # r5 wave 2: the dedup PRODUCT table (closure + winner election on
    # the membership table) and the eval-probe decontamination — both
    # ride the same banded candidate machinery, so their x10 ratios
    # show the product stages add no super-linear step on top of it
    "dedup_keep_canonical",
    "decontamination_minhash_overlap",
    # r6: the ANN SERVING paths — the queries most sensitive to corpus
    # growth — join the 10× tier. Their ratios should track CANDIDATE
    # volume, not corpus size: LSH reads its probed buckets off the
    # (band,bval)-partitioned table, IVF reads nprobe/nlist of the
    # cid-partitioned lists, PQ-rerank scans the M-byte code table and
    # fetches |shortlist| vectors. (The per-query x10 cost that IS
    # corpus-bound — the ADC code scan — is the designed floor.)
    "ann_lsh_topk_cosine",
    "ann_ivf_topk_cosine",
    "ann_pq_rerank_trained_topk",
    "ann_ivf_filtered_topk",
    # r6 wave 2: SemDeDup — stride-fixed cells keep |cell| ≈ constant
    # as the corpus grows, so within-cell candidate volume (and the
    # x10 ratio) should stay ~linear, the cell-bounding claim itself
    "dedup_semantic_keep",
    # r8: exact-substring dedup — window hashing is one narrow pass and
    # the dup-hash groupBy is map-side combined, so the x10 ratio should
    # track token volume (the Caesar-rotated replicas share no windows,
    # keeping the duplicated-span population exactly 10×)
    "dedup_duplicate_spans",
    # r8: audio landmark near-dup — the Caesar-rotated replicas have
    # different byte envelopes, so the landmark population is exactly
    # 10× and the df-capped key join should track it linearly
    "multimodal_audio_near_dup",
    # r9: the CAPPED perceptual image path (its Hamming mega-bucket
    # guard is the priced claim, like dedup_minhash_lsh_capped)
    "multimodal_image_near_dup_capped",
]

# queries timed on BOTH 10× corpora (uniform vs skewed) — each carries
# an explicit skew mitigation whose claim is "hot keys cost ~nothing":
# salted join (lang), capped LSH (mega dup cluster), hash-partitioned
# exact dedup (hot content_hash), group-by over a hot source.
SKEW_QUERIES = [
    "skew_salted_join_lang",
    "group_hits_by_source",
    "dedup_minhash_lsh_capped",
    "dedup_exact_groups",
    # r5: lang-keyed curation windows under the ~30%-hot 'en' key —
    # per-lang packing prefix-sum, per-lang A-ES sampling window, and
    # the end-to-end pipeline that chains both behind the dedup stage
    "curation_pack_bins",
    "curation_weighted_sample_per_lang",
    "pipeline_curation_end_to_end",
    # r5: the dedup PRODUCT table now runs the capped production
    # config, so the planted viral-boilerplate mega cluster exercises
    # exactly its guard — the skew ratio shows the winner election on
    # top of the capped candidates costs ~nothing under a hot cluster
    "dedup_keep_canonical",
    # r7: the SEMANTIC family joins the adversarial tier — the skew
    # corpus now plants a viral EMBEDDING cell (~2.8% of vectors
    # near-identical -> one mega k-means cell), the exact shape the
    # SemDeDup max_cell guard exists for. dedup_semantic_keep runs the
    # capped production path; the decontamination probe is |eval|·|cell|
    # (linear in cell size per eval item) and should hold without a cap
    "dedup_semantic_keep",
    "decontamination_semantic_overlap",
    # r8: the planted byte-identical boilerplate (~2% of rows, ONE
    # repeated 21-token text) is exactly a viral duplicated span — the
    # dup-hash posting lists go hot but the marked-window join stays
    # duplication-sized, which is the claim this row prices
    "dedup_duplicate_spans",
    # r8: the boilerplate replicas are also byte-identical AUDIO — every
    # copy emits the SAME landmark keys, which blow past the absolute
    # df-cap (AUDIO_MAX_KEY_DF) and are dropped before the key join;
    # the skew ratio prices exactly that guard
    "multimodal_audio_near_dup",
    # r9: the boilerplate replicas fake-decode to byte-identical frames
    # -> ONE viral dHash bucket; the capped row's guard is priced here
    "multimodal_image_near_dup_capped",
]

# byte-identical boilerplate planted on ~2% of skew-tier rows — the
# viral-page shape: every copy lands in the SAME LSH buckets
_BOILERPLATE = (
    "click here to accept cookies and continue to the best site on the "
    "internet where all your favorite content lives conveniently forever"
)

# the viral EMBEDDING planted on ~2.8% of skew-tier vectors — the
# semantic twin of _BOILERPLATE (golden-angle sine ramp, deterministic)
_VIRAL_VEC = [round(math.sin(i * 2.399963) * 0.5, 6) for i in range(64)]

BENCH_QUERIES = [
    # BASELINE.md grid anchors
    "dense_topk_cosine",        # topk_cosine (Q1)
    "dense_knn_by_id",          # Q2
    "dense_rocchio_rerank",     # Q3 feedback
    "tpch_q1_pricing_summary",  # TPC-H agg
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
]

# extended anchors appended as the registry grows; missing names skip
OPTIONAL_QUERIES = [
    "sparse_tfidf_topk",
    "sparse_bm25_topk",
    "sparse_multichannel_context",
    "fusion_dual_model_ensemble",
    "fusion_hybrid_sparse_dense",
    "bridge_interval_join",
    "group_hits_by_source",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "text_simhash_fingerprints",
    "text_quality_scores",
    "ann_lsh_topk_cosine",
    "emb_near_dup_lsh",
    "multimodal_decode_features",
    "stream_tumbling_event_counts",
    "session_window_stats",
    "dense_batch_topk_cosine",
    "sparse_batch_tfidf_topk",
    "ann_ivf_topk_cosine",
    "text_bigram_lm_scores",
    "dense_topk_cosine_arrow",
    "dense_batch_topk_cosine_arrow",
    "dedup_cluster_components",
    "heavy_hitters_tokens",
    "sketch_kmv_distinct_tokens",
    "emb_label_centroid_norms",
    "ann_pq_adc_topk",
    "ann_pq_rerank_topk",
    "dedup_cluster_components_lss",
    "ann_ivfpq_adc_topk",
    "ann_sq8_topk",
    "ann_pq_rerank_trained_topk",
    "ann_pq_batch_adc_topk",
    # round-4 ingest-stage + composition anchors
    "multimodal_asr_transcripts",
    "corpus_embedding_build",
    "multimodal_tag_freqs",
    "speech_asr_bm25_search",
    # round-4 curation + physical-layout anchors
    "curation_pii_redaction",
    "curation_pack_bins",
    "corpus_upsert_merge",
    "bucketed_join_zero_shuffle",
    "sketch_binned_quantiles",
    "dedup_delta_batch_pairs",
    "dedup_cluster_components_capped",  # x1 anchor for its stress ratio
    "curation_line_boilerplate_removal",
    "pipeline_curation_end_to_end",
    "ann_pq_filtered_topk",
    # round-5 anchors: filtered IVF serving, incremental embedding
    # dedup (delta probe), and the /panel facade end-to-end
    "ann_ivf_filtered_topk",
    "emb_near_dup_delta",
    "endpoint_panel_search",
    # round-5 wave 2: dedup product table, per-lang quantile cut,
    # shard-export manifest, multi-probe LSH, batched IVF, minhash
    # decontamination probe
    "dedup_keep_canonical",
    "curation_quality_quantile_filter",
    "curation_shard_manifest",
    "ann_lsh_multiprobe_topk",
    "ann_ivf_batch_topk",
    "decontamination_minhash_overlap",
    # round-5 wave 4: the continuous-curation flagship + batched LSH
    "stream_curation_ingest_parity",
    "ann_lsh_batch_topk",
    "index_incremental_tfidf_parity",
    "index_incremental_bm25_parity",
    "monitor_text_oov_rate",
    # round-6: the production-width derivation (the ingest job that
    # feeds the dim_tier) timed as a corpus-bound projection anchor
    "dense_dim768_derivation",
    # round-6 wave 2: new serving/pipeline operators — RRF hybrid
    # fuse, cross-encoder rerank tail, quota-diversified page,
    # PRF expansion (two index passes), SemDeDup product table
    "fusion_rrf_hybrid",
    "rerank_cross_encoder",
    "group_quota_topk",
    "sparse_prf_expansion_topk",
    "dedup_semantic_keep",
    # round-6 wave 3: guarded SemDeDup, semantic decontamination
    # probe, cascade serving router (pruned branch).
    # dedup_semantic_delta_pairs is deliberately NOT an anchor: it
    # rebuilds its incremental assignment table inside the timed query
    # (proof-shaped, ~7.5 s of drop+assign+append per run at sf0.1);
    # its serving read is the same probe decontamination_semantic_
    # overlap times below.
    "dedup_semantic_capped_pairs",
    "decontamination_semantic_overlap",
    "ann_cascade_topk_pruned",
    "rerank_mmr_diversify",
    "endpoint_diverse_search",
    # round-7: the TRUE two-space ensemble at production width (both
    # 768-wide at-rest tables, the reference's both-models fusion)
    "fusion_dual_model_true_d768",
    # round-8: exact-substring dedup (cut lists + reassembled corpus)
    "dedup_duplicate_spans",
    "dedup_remove_duplicate_spans",
    # round-8: perceptual image near-dup (dHash + Hamming-band LSH)
    "multimodal_image_near_dup",
    # round-8: audio landmark near-dup (envelope peaks + offset vote)
    "multimodal_audio_near_dup",
    # round-8: video frame-sequence near-dup (dHash frames + offset vote)
    "multimodal_video_near_dup",
    # round-8: perceptual dedup product table (pairs -> components ->
    # keep cluster-minimum frame) — dedup_keep_canonical's image twin
    "multimodal_image_dedup_keep",
    "multimodal_audio_dedup_keep",
    # r9 (r8 advice): the capped Hamming-banding path and the
    # band-density gauge get timed like their family precedents
    # (dedup_minhash_lsh_capped / monitor_text_oov_rate)
    "multimodal_image_near_dup_capped",
    "monitor_dhash_band_density",
    # r9: video dedup product table (family symmetry with image/audio)
    "multimodal_video_dedup_keep",
    # r10: the WIDE-geometry image near-dup serving path (128-bit
    # interpolated dHash, 16-bit bands) — the band-saturation escape
    # hatch the dHash gauge triggers; x1 anchor, width evidence at x10
    # comes from tiers.dhash_band_density
    "multimodal_image_near_dup_wide",
]

# per-replica Caesar rotation over the FULL alphabet (both cases):
# virtually every 5-gram shingle contains a letter, so replicas of the
# same document share almost no shingles — without this, residual
# cross-replica minhash-band collisions inflate candidate pairs ~17×
# beyond the true 10× (measured) and the tier stops being a fair
# linear-scaling probe
_REMAP_SRC = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def _build_stress_dir(spark, sf_dir: str, replication: int) -> str:
    from pyspark.sql import functions as F

    out = _scratch_mkdtemp("msrbd_stress_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    reps = spark.range(replication).select(F.col("id").cast("int").alias("__rep"))
    id_shift = 10_000_000

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lower, upper, digits = _REMAP_SRC[:26], _REMAP_SRC[26:52], _REMAP_SRC[52:]
    text = F.col("text")
    for i in range(1, replication):
        tgt = (
            lower[i:] + lower[:i] + upper[i:] + upper[:i]
            + digits[i:] + digits[:i]
        )
        text = F.when(F.col("__rep") == i, F.translate("text", _REMAP_SRC, tgt)).otherwise(
            text
        )
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("__rep").cast("bigint") * id_shift).alias("doc_id"),
            text.alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # per-replica deterministic jitter on one dimension decorrelates
    # replicas enough for banding while preserving the distribution
    (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("__rep").cast("bigint") * id_shift).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, j: x
                + F.when(
                    j == F.col("__rep") % 64, F.col("__rep").cast("double") * 0.37
                ).otherwise(F.lit(0.0)),
            ).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(out, f"{t}.parquet"))
    return out


def _build_skew_dir(spark, sf_dir: str, replication: int) -> str:
    """10×-replicated documents with ADVERSARIAL skew: replicas 0-2
    force lang='en' and source='src_hot' (~30% of rows on one key) and
    replicas 1-2 plant byte-identical boilerplate on doc_id % 7 == 0
    (~2% of the corpus in ONE duplicate cluster / LSH mega bucket),
    and the 10× embeddings plant the SEMANTIC twin of the boilerplate:
    vec_id % 7 == 0 on replicas 1-2 becomes a near-copy of ONE base
    vector (tiny per-row jitter), so ~2.8% of the corpus collapses
    into a single viral k-means cell — the shape the SemDeDup
    max_cell guard exists for. Other tables are symlinked."""
    from pyspark.sql import functions as F

    out = _scratch_mkdtemp("msrbd_skew_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    reps = spark.range(replication).select(F.col("id").cast("int").alias("__rep"))
    id_shift = 10_000_000

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lower, upper, digits = _REMAP_SRC[:26], _REMAP_SRC[26:52], _REMAP_SRC[52:]
    text = F.col("text")
    for i in range(1, replication):
        tgt = (
            lower[i:] + lower[:i] + upper[i:] + upper[:i]
            + digits[i:] + digits[:i]
        )
        text = F.when(F.col("__rep") == i, F.translate("text", _REMAP_SRC, tgt)).otherwise(
            text
        )
    hot = F.col("__rep") <= 2
    boiler = F.col("__rep").isin(1, 2) & (F.col("doc_id") % 7 == 0)
    (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("__rep").cast("bigint") * id_shift).alias("doc_id"),
            F.when(boiler, F.lit(_BOILERPLATE)).otherwise(text).alias("text"),
            F.when(hot, F.lit("en")).otherwise(F.col("lang")).alias("lang"),
            F.when(hot, F.lit("src_hot")).otherwise(F.col("source")).alias("source"),
            F.when(boiler, F.lit(len(_BOILERPLATE))).otherwise(F.col("n_chars")).alias(
                "n_chars"
            ),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    viral = F.col("__rep").isin(1, 2) & (F.col("vec_id") % 7 == 0)
    viral_base = F.array(*[F.lit(v) for v in _VIRAL_VEC])
    # per-row jitter keyed on the SHIFTED id so every viral replica is
    # a distinct vector (pre-shift vec_id would hand replicas 1 and 2
    # byte-identical copies — r7 advice), while cosine stays ≈ 1
    shifted_id = F.col("vec_id") + F.col("__rep").cast("bigint") * id_shift
    viral_vec = F.transform(
        viral_base,
        lambda v, j: v
        + F.when(
            j == shifted_id % 64,
            (shifted_id % 997).cast("double") * 1e-5,
        ).otherwise(F.lit(0.0)),
    )
    uniform_vec = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, j: x
        + F.when(
            j == F.col("__rep") % 64, F.col("__rep").cast("double") * 0.37
        ).otherwise(F.lit(0.0)),
    )
    (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("__rep").cast("bigint") * id_shift).alias("vec_id"),
            F.when(viral, viral_vec).otherwise(uniform_vec).alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        src = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(src):
            os.symlink(src, os.path.join(out, f"{t}.parquet"))
    return out


DIM_TIER = 768
DIM_K = 50


def _anchor_reserve(last_med: float, runs: int) -> float:
    """Cost estimate for the NEXT anchor: the last observed median ×
    (runs + warm-up), floored at 40 s — the r9-advice gate that bounds
    budget overshoot to one mis-estimated anchor instead of letting an
    anchor start with epsilon budget and run its full warm-up + runs.
    The floor is deliberately fat: an anchor with no cost history can
    hide an index build in its warm-up (r10: a rotation anchor started
    with ~40 s left and ran ~140 s past the budget), so near the
    deadline only anchors with real headroom start."""
    return max(last_med * (runs + 1), 40.0)


def _time_thunks(
    thunks: dict, runs: int = RUNS, skipped: list | None = None
) -> dict[str, float]:
    """Median wall-clock per named thunk (each returns a DataFrame to
    count()); one untimed warm-up run builds any index tables. Thunks
    not reached before the wall-clock budget land in `skipped`."""
    out: dict[str, float] = {}
    last_med = 0.0
    for name, fn in thunks.items():
        if _remaining() < _anchor_reserve(last_med, runs):
            if skipped is not None:
                skipped.append(name)
            continue
        fn().count()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn().count()
            samples.append(time.perf_counter() - t0)
        out[name] = last_med = round(statistics.median(samples), 4)
    return out


def _run_dim_tier(spark, sf_dir: str, paths=None, grids: bool = True) -> dict:
    """PRODUCTION-DIMENSION tier: the reference serves d=768 CLIP
    vectors (data_extraction/create_bin.ipynb cells 3,8;
    utils/faiss_processing.py:39-41) while the testdata is d=64 — so
    every dense/ANN serving path is ALSO measured on a d=768 corpus
    derived by dense.expand_to_dim (derivation oracle-pinned by the
    dense_dim768_derivation registry row). Reports per-path timings,
    recall@50 vs the exact d=768 scan, and the candidate volumes that
    drive each path's cost at production width.

    `paths` restricts to a subset of the thunk names (the width×scale
    cross re-runs the serving subset on the 10× stress corpus);
    `grids=False` skips the nprobe tuning grid (already measured on
    the x1 corpus — cell geometry depends on dim, not corpus size)."""
    from pyspark.sql import functions as F

    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.encoders import dim_expand_encode
    from multi_search_retrival_big_data_spark.operators import ann, dense
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

    qv = dim_expand_encode(QUERY_VEC, 64, DIM_TIER)
    dim_dir = _scratch_mkdtemp("msrbd_dim768_")
    atexit.register(shutil.rmtree, dim_dir, ignore_errors=True)
    base = tables.load(spark, "embeddings", sf_dir)
    dense.expand_to_dim(base, out_dim=DIM_TIER, in_dim=64).write.mode(
        "overwrite"
    ).parquet(os.path.join(dim_dir, "embeddings.parquet"))

    def emb():
        return tables.load(spark, "embeddings", dim_dir)

    n_rows = emb().count()

    def pq_pair():
        return index_store.pq_trained(spark, dim_dir, dim=DIM_TIER, iters=2)

    def lsh():
        banded = index_store.emb_lsh_bands(spark, dim_dir, dim=DIM_TIER)
        return ann.ann_lsh_topk(emb(), qv, k=DIM_K, round_to=6, banded=banded)

    def ivf():
        assign = index_store.ivf_assignments(spark, dim_dir)
        return ann.ann_ivf_topk(emb(), qv, k=DIM_K, round_to=6, assign=assign)

    def pq_rerank():
        book, codes = pq_pair()
        return ann.ann_pq_rerank_topk(
            emb(), codes, qv, k=DIM_K, round_to=6, codebook=book
        )

    def sq8():
        bounds, codes = index_store.sq8(spark, dim_dir)
        return ann.ann_sq8_topk(codes, bounds, qv, k=DIM_K, round_to=6)

    def ivf_trained():
        # Lloyd-trained coarse quantizer at production width — answers
        # whether the stride-IVF recall at d=768 is a geometry limit or
        # a training limit (FAISS practice trains; same serving shape
        # as ann_ivf_trained_recall_grid: probe the trained centroid
        # table, rank the co-located pruned inverted lists with the
        # one cosine kernel)
        cents_t, assign_t = index_store.ivf_trained(spark, dim_dir, iters=2)
        _, (probe,) = ann.elect_cells(cents_t, [qv], ann.IVF_NPROBE)
        return dense.topk_cosine(
            assign_t.filter(F.col("cid").isin(probe)), qv, k=DIM_K, round_to=6
        )

    def lsh_tuned():
        # dimension-derived geometry (ann.lsh_geometry): more, equally
        # deep bands at width — served off its own persisted banding
        P, B = ann.lsh_geometry(DIM_TIER)
        banded = index_store.emb_lsh_bands(
            spark, dim_dir, bands=B, num_planes=P, dim=DIM_TIER
        )
        return ann.ann_lsh_topk(
            emb(), qv, k=DIM_K, num_planes=P, bands=B, round_to=6, banded=banded
        )

    def ivf_trained_tuned():
        # dimension-derived probe depth (ann.ivf_nprobe_frac)
        cents_t, assign_t = index_store.ivf_trained(spark, dim_dir, iters=2)
        nprobe = math.ceil(ann.ivf_nprobe_frac(DIM_TIER) * cents_t.count())
        _, (probe,) = ann.elect_cells(cents_t, [qv], nprobe)
        return dense.topk_cosine(
            assign_t.filter(F.col("cid").isin(probe)), qv, k=DIM_K, round_to=6
        )

    thunks = {
        "dense_topk_cosine_arrow": lambda: dense.topk_cosine(
            emb(), qv, k=100, round_to=6
        ),
        "ann_lsh_topk": lsh,
        "ann_lsh_topk_tuned": lsh_tuned,
        "ann_ivf_topk": ivf,
        "ann_ivf_trained_topk": ivf_trained,
        "ann_ivf_trained_topk_tuned": ivf_trained_tuned,
        "ann_pq_rerank_trained": pq_rerank,
        "ann_sq8_topk": sq8,
    }
    if paths is not None:
        thunks = {n: fn for n, fn in thunks.items() if n in paths}
    timings = _time_thunks(thunks)

    # recall@k vs the exact d=768 scan (the ANN paths' quality at
    # production width — band/cell geometry does NOT transfer from
    # d=64, so this must be measured, not extrapolated)
    exact = {
        r["vec_id"]
        for r in dense.topk_cosine(emb(), qv, k=DIM_K, round_to=6)
        .select("vec_id")
        .collect()
    }

    def recall(df) -> float:
        ids = {r["vec_id"] for r in df.select("vec_id").collect()}
        return round(len(ids & exact) / float(DIM_K), 4)

    ann_paths = {
        "ann_lsh_topk": lsh,
        "ann_lsh_topk_tuned": lsh_tuned,
        "ann_ivf_topk": ivf,
        "ann_ivf_trained_topk": ivf_trained,
        "ann_ivf_trained_topk_tuned": ivf_trained_tuned,
        "ann_pq_rerank_trained": pq_rerank,
        "ann_sq8_topk": sq8,
    }
    recalls = {n: recall(fn()) for n, fn in ann_paths.items() if n in timings}

    # candidate volumes — the scaling variable for each path's cost
    candidates = {
        "pq_adc_code_rows_scanned": n_rows,
        "pq_rerank_shortlist": ann.PQ_RERANK_SHORTLIST,
        "corpus_rows": n_rows,
    }
    if "ann_lsh_topk" in thunks:
        banded = index_store.emb_lsh_bands(spark, dim_dir, dim=DIM_TIER)
        _, probe = ann.band_probe([(0, qv)])
        candidates["lsh_bucket_union"] = (
            banded.filter(probe).select("vec_id").distinct().count()
        )
    if "ann_ivf_topk" in thunks:
        _, (probe,) = ann.elect_cells(ann.centroids(emb()), [qv], ann.IVF_NPROBE, "__cv")
        candidates["ivf_probed_cells"] = (
            index_store.ivf_assignments(spark, dim_dir)
            .filter(F.col("cid").isin(probe))
            .count()
        )

    out = {
        "dim": DIM_TIER,
        "rows": n_rows,
        "queries": timings,
        "recall_at_k": {"k": DIM_K, **recalls},
        "candidates": candidates,
        "d64_anchors": {
            "dense_topk_cosine_arrow": "dense_topk_cosine_arrow",
            "ann_lsh_topk": "ann_lsh_topk_cosine",
            "ann_lsh_topk_tuned": "ann_lsh_d768_tuned_grid",
            "ann_ivf_topk": "ann_ivf_topk_cosine",
            "ann_ivf_trained_topk": "ann_ivf_trained_recall_grid",
            "ann_ivf_trained_topk_tuned": "ann_ivf_d768_tuned_grid",
            "ann_pq_rerank_trained": "ann_pq_rerank_trained_topk",
            "ann_sq8_topk": "ann_sq8_topk",
        },
    }

    if grids:
        # recall-vs-nprobe grid at production width (the d=64 grid is
        # ann_ivf_recall_grid; cell geometry does not transfer across
        # dimension, so the tuning curve is re-measured here)
        assign = index_store.ivf_assignments(spark, dim_dir)
        _, (ranked,) = ann.elect_cells(ann.centroids(emb()), [qv], 8, "__cv")
        ivf_grid = []
        for nprobe in (1, 2, 4, 8):
            cand_n = assign.filter(F.col("cid").isin(ranked[:nprobe])).count()
            got = recall(
                ann.ann_ivf_topk(
                    emb(), qv, k=DIM_K, round_to=6, assign=assign, nprobe=nprobe
                )
            )
            ivf_grid.append(
                {"nprobe": nprobe, "candidates": cand_n, "recall_at_k": got}
            )
        out["ivf_recall_grid"] = ivf_grid
    shutil.rmtree(dim_dir, ignore_errors=True)
    return out


CONCURRENCY_QUERIES = [
    "dense_topk_cosine",
    "sparse_tfidf_topk",
    "ann_ivf_topk_cosine",
    "sparse_bm25_topk",
    "dense_knn_by_id",
    "ann_lsh_topk_cosine",
    "fusion_dual_model_ensemble",
    "dense_rocchio_rerank",
]

# the heavy job for the latency-isolation probe: a multi-second
# analytical query (first available wins)
ISOLATION_HEAVY_QUERIES = [
    "dedup_cluster_components_lss",
    "dedup_cluster_components",
    "pipeline_curation_end_to_end",
]


def _run_concurrency(spark, qs, sf_dir: str, reps: int = 3) -> dict:
    """CONCURRENT-SERVING anchor: the reference is a threaded Flask
    server (app.py:571 `threaded=True`) — many simultaneous small
    queries through shared state. Here N distinct dense+sparse serving
    queries fire concurrently through ONE SparkSession, each thread in
    its own FAIR scheduler pool (session.py sets
    spark.scheduler.mode=FAIR), and the anchor reports queries/sec vs
    the same set run sequentially — the multiplexing win a serving
    tier gets on top of per-query latency."""
    import threading

    names = [n for n in CONCURRENCY_QUERIES if n in qs]

    # SESSION HYGIENE (r7 verdict item 7 — in-grid n8 1.97× vs 3.87×
    # isolated): by this point the grid has run ~80 anchors plus the
    # 10× stress corpora through this JVM; evict their cached blocks
    # and force a full collection so the concurrency anchor measures
    # scheduling, not the prior anchors' heap. A serving tier would
    # never share a heap with a just-finished 10×-corpus batch job —
    # this is the same separation, applied in-grid.
    def _jvm_gc_stats() -> tuple[int, int]:
        beans = (
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        t = c = 0
        it = beans.iterator()
        while it.hasNext():
            b = it.next()
            t += b.getCollectionTime()
            c += b.getCollectionCount()
        return t, c

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    for n in names:  # warm: plans, index tables, JVM paths
        qs[n](spark, sf_dir).count()

    def run_one(n: str, pool: str | None) -> None:
        if pool is not None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
        try:
            qs[n](spark, sf_dir).count()
        finally:
            if pool is not None:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    def _sys_busy() -> float:
        # system-wide busy CPU-seconds (/proc/stat) — the machine is
        # dedicated, so deltas around a query measure its core usage
        with open("/proc/stat") as fh:
            p = fh.readline().split()
        vals = list(map(int, p[1:]))
        return (sum(vals) - vals[3] - vals[4]) / os.sysconf("SC_CLK_TCK")

    per_query: dict[str, float] = {}
    cpu_s = 0.0
    for n in names:
        c0 = _sys_busy()
        t0 = time.perf_counter()
        run_one(n, None)
        per_query[n] = time.perf_counter() - t0
        cpu_s += _sys_busy() - c0

    out: dict = {"queries": names}
    # THE CONCURRENCY FLOOR, measured (r6 asked where the other 5× of
    # an ideal 8× goes): a single serving query's stages already
    # burst-parallelize across all executor cores, so N concurrent
    # queries can only multiplex each other's idle gaps — the
    # work-conserving ceiling is cores / avg-cores-busy-per-query, NOT
    # N. Corroborating evidence (measured r7): pure-JVM concurrent
    # jobs with zero Python in the path cap at ~3.3× on 32 cores;
    # per-thread latency inflation under n8 is 1.2-2.7× (time-slicing,
    # not queueing — FAIR pools working as designed); same-query n8
    # reaches 5.6× (codegen-cache diversity costs the rest). This is a
    # hard floor of the workload shape, not a scheduler/GIL defect.
    ncores = os.cpu_count() or 32
    seq_wall = sum(per_query.values())
    avg_cores = cpu_s / seq_wall if seq_wall > 0 else 0.0
    out["cpu_floor"] = {
        "avg_cores_busy_single_query": round(avg_cores, 1),
        "cores": ncores,
        "work_conserving_ceiling": round(ncores / avg_cores, 2)
        if avg_cores > 0
        else None,
    }
    # MEDIAN OF `reps` concurrent rounds per width (3 on close runs; 2
    # under the driver budget): a single 2-4 s concurrent window is
    # scheduling-noise-dominated — identical code measured n8 speedup
    # 1.41 / 1.97 / 2.84 across three grid runs (r7-r8), while the
    # per-round GC deltas (recorded below) show the window spends
    # <100 ms collecting, exonerating heap pressure.
    for width in (4, 8):
        batch = names[:width]
        seq = sum(per_query[n] for n in batch)
        walls, gcs_ms, gcs_n = [], [], []
        for _rep in range(reps):
            threads = [
                threading.Thread(target=run_one, args=(n, f"pool{i}"))
                for i, n in enumerate(batch)
            ]
            gt0, gc0 = _jvm_gc_stats()
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            walls.append(time.perf_counter() - t0)
            gt1, gc1 = _jvm_gc_stats()
            gcs_ms.append(gt1 - gt0)
            gcs_n.append(gc1 - gc0)
        wall = statistics.median(walls)
        out[f"n{width}"] = {
            "sequential_sec": round(seq, 4),
            "wall_sec": round(wall, 4),
            "wall_spread": [round(w, 4) for w in sorted(walls)],
            "sequential_qps": round(len(batch) / seq, 2),
            "qps": round(len(batch) / wall, 2),
            "speedup": round(seq / wall, 2),
            "speedup_spread": sorted(round(seq / w, 2) for w in walls),
            "n": len(batch),
            # GC evidence for the in-grid-vs-isolated gap: collection
            # time spent DURING the concurrent windows (ms, per round)
            "gc_ms": gcs_ms,
            "gc_collections": gcs_n,
        }

    # latency isolation — what the FAIR pools actually buy: a short
    # serving query's latency while a heavy analytical job runs in a
    # sibling pool. Under FIFO the short query queues behind every
    # stage of the heavy one; under FAIR it interleaves, so the
    # contended/idle ratio should stay near 1 on an under-subscribed
    # executor (and bounded by fair-share, not queue-behind, when hot)
    heavy = next((n for n in ISOLATION_HEAVY_QUERIES if n in qs), None)
    fast = names[0] if names else None
    if heavy and fast:
        qs[heavy](spark, sf_dir).count()  # warm the heavy plan too

        def med_latency(runs: int = 3) -> float:
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                run_one(fast, "fast")
                samples.append(time.perf_counter() - t0)
            return statistics.median(samples)

        idle = med_latency()
        ht = threading.Thread(target=run_one, args=(heavy, "heavy"))
        ht.start()
        time.sleep(0.3)  # heavy job is mid-flight before we measure
        contended = med_latency()
        ht.join()
        out["isolation"] = {
            "fast_query": fast,
            "heavy_query": heavy,
            "idle_sec": round(idle, 4),
            "contended_sec": round(contended, 4),
            "latency_ratio": round(contended / idle, 2),
        }
    return out


# Grid hygiene cadence: without it, anchors late in an ~84-query grid
# measured 2-4× their isolated cost (r8: rerank_cross_encoder 7.47 s
# in-grid vs 2.16 s isolated, sparse_prf 8.42 vs 3.49) — the session
# accumulates cached blocks, lingering torrent broadcasts, and codegen
# churn that a serving JVM would never carry. Evicting caches and
# forcing a collection every few anchors keeps each measurement about
# the QUERY, not about the 60 anchors before it; the untimed warm-up
# run right after repopulates whatever the next anchor needs.
HYGIENE_EVERY = 15


def _session_hygiene(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _time_queries(
    spark,
    qs,
    names,
    sf_dir: str,
    spreads: dict | None = None,
    on_anchor=None,
    skipped: list | None = None,
    runs: int = RUNS,
    cost_hints: dict | None = None,
) -> dict[str, float]:
    """Median wall-clock per registered query. `on_anchor(name, med)`
    fires after EVERY anchor so the caller can re-emit the
    driver-parsable summary incrementally (r8: a timeout at
    end-of-run lost all numbers); anchors whose estimated cost (last
    median × (runs+1)) no longer fits the wall-clock budget land in
    `skipped` instead of running."""
    timings: dict[str, float] = {}
    last_med = 0.0
    for i, name in enumerate(names):
        watched = spreads is not None and name in DRIFT_WATCH
        runs_eff = DRIFT_RUNS if watched else runs
        # per-anchor estimate: a known prior for THIS anchor (the skew
        # tier passes its x10 medians — skew ≈ uniform-x10 when the
        # guards hold) beats the last anchor's median, which
        # over-estimates every cheap anchor that follows an expensive
        # one (r10: one 17 s skew anchor starved four ~3 s guards)
        est = (cost_hints or {}).get(name) or last_med
        if _remaining() < _anchor_reserve(est, runs_eff):
            if skipped is not None:
                skipped.append(name)
            continue
        if i % HYGIENE_EVERY == 0 and i > 0:
            _session_hygiene(spark)
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm-up (also builds index tables)
        samples = []
        for _ in range(runs_eff):
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = last_med = round(statistics.median(samples), 4)
        if watched:
            spreads[name] = {
                "min": round(min(samples), 4),
                "med": timings[name],
                "max": round(max(samples), 4),
                "runs": len(samples),
            }
        if on_anchor is not None:
            on_anchor(name, timings[name])
    return timings


# per-query timings surfaced on the compact final stdout line — the
# BASELINE.md grid's serving + pipeline flagships (one per family);
# everything else lives in BENCH_DETAIL.json
HEADLINE_SUMMARY = [
    "dense_topk_cosine",
    "dense_topk_cosine_arrow",
    "sparse_tfidf_topk",
    "sparse_bm25_topk",
    "fusion_hybrid_sparse_dense",
    "ann_lsh_topk_cosine",
    "ann_ivf_topk_cosine",
    "ann_pq_rerank_trained_topk",
    "dedup_minhash_lsh_capped",
    "dedup_keep_canonical",
    "dedup_semantic_keep",
    "pipeline_curation_end_to_end",
    "tpch_q1_pricing_summary",
    "endpoint_diverse_search",
]


def _compact_summary(result: dict, detail_file: str) -> dict:
    """The driver-parsable final line: total + headline timings + the
    worst scale/skew ratios + d=768 recalls + the concurrency anchor.
    Kept well under the driver's ~2000-char stdout tail capture."""
    out = {
        "metric": "total wall-clock over headline queries "
        "(median; full detail in BENCH_DETAIL.json)",
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "n_queries": len(result["queries"]),
        "queries": {
            n: result["queries"][n]
            for n in HEADLINE_SUMMARY
            if n in result["queries"]
        },
        "detail_file": os.path.basename(detail_file),
    }
    if result.get("skipped"):
        out["skipped_n"] = len(result["skipped"])
    if result.get("tiers_skipped"):
        out["tiers_skipped"] = sorted(result["tiers_skipped"])
    if result.get("elapsed_s") is not None:
        out["elapsed_s"] = result["elapsed_s"]
    if result.get("x1_profile"):
        p = result["x1_profile"]
        out["x1_profile"] = (
            f"core {p['core_n']} + rotation {p['rotation_n']} "
            f"(group {p['rotation_group']}/{p['rotation_groups']})"
        )
    tiers = result.get("tiers", {})
    if tiers:
        sr = tiers.get("scale_ratio", {})
        out["x10_ratio_worst"] = dict(
            sorted(sr.items(), key=lambda kv: -kv[1])[:5]
        )
        skew = tiers.get("skew", {}).get("skew_ratio_vs_uniform_x10", {})
        out["skew_ratio_worst"] = dict(
            sorted(skew.items(), key=lambda kv: -kv[1])[:5]
        )
        rate = tiers.get("semantic_rate_sec_per_1m_pairs")
        if rate:
            out["sem_rate_norm_ratio"] = rate["normalized_ratio"]
        lrate = tiers.get("lsh_rate_sec_per_1m_pairs")
        if lrate:
            out["lsh_rate_norm_ratio"] = lrate["normalized_ratio"]
    dim = result.get("dim_tier")
    if dim:
        out["dim768"] = {
            "total_s": round(sum(dim.get("queries", {}).values()), 2),
            "recall_at_50": {
                k: v for k, v in dim.get("recall_at_k", {}).items() if k != "k"
            },
        }
    conc = result.get("concurrency")
    if conc and "n8" in conc:
        out["concurrency"] = {
            "n8_speedup": conc["n8"]["speedup"],
            "n8_qps": conc["n8"]["qps"],
            "isolation_ratio": conc.get("isolation", {}).get("latency_ratio"),
            "ceiling": conc.get("cpu_floor", {}).get("work_conserving_ceiling"),
        }
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as se
    from multi_search_retrival_big_data_spark.session import get_spark

    spark = get_spark("msrbd-bench")
    qs = se.queries()
    names = [n for n in BENCH_QUERIES if n in qs] + [
        n for n in OPTIONAL_QUERIES if n in qs
    ]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    spreads: dict = {}
    skipped: list[str] = []
    tiers_skipped: dict[str, str] = {}
    result: dict = {
        "metric": "total wall-clock over headline queries (median of "
        f"{X1_RUNS} runs; {DRIFT_RUNS} for drift_watch entries)",
        "value": 0.0,
        "unit": "sec",
        "queries": {},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "drift_watch": spreads,
        "budget_s": BUDGET_S,
    }

    def emit() -> None:
        # r8 postmortem: re-written after EVERY anchor/tier so a hard
        # kill still leaves the driver a parsable final stdout line
        result["value"] = round(sum(result["queries"].values()), 4)
        result["elapsed_s"] = round(_elapsed(), 1)
        if skipped:
            result["skipped"] = skipped
        if tiers_skipped:
            result["tiers_skipped"] = tiers_skipped
        with open(detail_path, "w") as fh:
            json.dump(result, fh, indent=1)
        print(json.dumps(_compact_summary(result, detail_path)), flush=True)

    timings: dict[str, float] = result["queries"]

    def _on_anchor(name: str, med: float) -> None:
        timings[name] = med
        emit()

    # DRIVER PROFILE (budget set): only the CORE x1 anchors run before
    # the tiers — headline grid + every x10/skew ratio denominator +
    # the concurrency/isolation/drift sets. The rest of the x1 grid
    # runs AFTER the tiers as a rotating per-round subset, so a tight
    # budget degrades by thinning the x1 tail (recorded in "skipped"),
    # never by dropping a tier (r9: the driver run spent 1366/1380 s on
    # 91 x1 anchors + x10 and skipped skew/dim768/concurrency whole).
    rotation_names: list[str] = []
    # this round's effective tier omit sets (one third of each pool
    # re-measures per round; close runs with budget=0 omit nothing)
    x10_omit = _rotating_omit(DRIVER_X10_OMIT) if BUDGET_S > 0 else set()
    skew_omit = _rotating_omit(DRIVER_SKEW_OMIT) if BUDGET_S > 0 else set()
    if BUDGET_S > 0:
        # tier-ratio denominators only for the anchors the driver
        # profile actually re-times at x10/skew; the omitted
        # stable-evidence anchors and the concurrency/isolation sets
        # (which warm and measure their own baselines inside
        # _run_concurrency) rotate with the rest of the x1 grid
        # HEADLINE anchors first (verdict r10 item 1): the round-over-
        # round comparison set is measured at the START of the session,
        # before ~40 grid anchors + two 10x corpus builds age the JVM —
        # so a headline drift can no longer be an artifact of session
        # position, and the drift_watch spreads (all 14 are watched)
        # record each anchor's floor in the same window.
        core = list(
            dict.fromkeys(
                HEADLINE_SUMMARY
                + BENCH_QUERIES
                + [n for n in STRESS_QUERIES if n not in x10_omit]
                + [n for n in SKEW_QUERIES if n not in skew_omit]
                + DRIFT_WATCH
            )
        )
        core = [n for n in core if n in qs]
        rest = [n for n in names if n not in core]
        group = ROTATION_INDEX
        rotation_names = rest[group::ROTATION_GROUPS]
        result["x1_profile"] = {
            "mode": "driver_core_plus_rotation",
            "core_n": len(core),
            "rotation_group": group,
            "rotation_groups": ROTATION_GROUPS,
            "rotation_n": len(rotation_names),
            "rotation_omitted_n": len(rest) - len(rotation_names),
            "note": "omitted x1 anchors rotate back within "
                    f"{ROTATION_GROUPS} rounds; close run (budget=0) "
                    "times the full grid",
        }
        names = core
    _time_queries(
        spark, qs, names, sf_dir, spreads,
        on_anchor=_on_anchor, skipped=skipped, runs=X1_RUNS,
    )

    stress_flag = os.environ.get("SPARK_GRAFT_STRESS", "")
    want_stress = stress_flag == "1" or (stress_flag == "" and sf == "0.1")
    # production-dimension tier + concurrent-serving anchor: same
    # default trigger as the stress tiers (sf0.1), with their own
    # overrides (SPARK_GRAFT_DIM / SPARK_GRAFT_CONC = 0|1)
    dim_flag = os.environ.get("SPARK_GRAFT_DIM", "")
    want_dim = dim_flag == "1" or (dim_flag == "" and want_stress)
    conc_flag = os.environ.get("SPARK_GRAFT_CONC", "")
    want_conc = conc_flag == "1" or (conc_flag == "" and want_stress)

    # conservative per-tier cost reserves: a tier only STARTS with at
    # least this much budget left, so the run exits 0 with the summary
    # printed instead of being timeout-killed mid-tier. Tier ORDER
    # (r10): x10 first (the scale evidence and every ratio's
    # denominator), then the FIXED-COST tiers (dim768, concurrency —
    # all-or-nothing reserves), then skew LAST because it degrades
    # per-anchor (claim-value order) instead of whole, then the
    # rotating x1 tail.
    reserves = {"x10": 400.0, "skew": 140.0, "dim768": 200.0, "concurrency": 110.0}

    def tier_fits(tier: str) -> bool:
        if _remaining() >= reserves[tier]:
            return True
        tiers_skipped[tier] = (
            f"budget: {round(_remaining(), 1)} s left < {reserves[tier]} s reserve"
        )
        return False

    result["stress_flag"] = {
        "enabled": want_stress,
        "env": stress_flag or "(unset: stress tiers run at sf0.1 only)",
        "disable_with": "SPARK_GRAFT_STRESS=0",
    }

    run_stress = want_stress and tier_fits("x10")
    stress_dir = None
    stress = {}  # x10 timings; filled per-anchor inside the tier
    skew_names = [
        n for n in SKEW_QUERIES if n in qs and n not in skew_omit
    ]
    if BUDGET_S > 0:
        # claim-value order: the skew tier runs LAST of the four tiers
        # and thins from the tail under the per-anchor budget gate, so
        # the guards the skew corpus specifically plants for (viral
        # semantic cell, LSH mega bucket, landmark-key storm, dHash
        # frame storm, duplicated-span storm) go first
        _skew_rank = [
            "dedup_semantic_keep",
            "dedup_minhash_lsh_capped",
            "multimodal_audio_near_dup",
            "multimodal_image_near_dup_capped",
            "dedup_duplicate_spans",
            "dedup_keep_canonical",
            "curation_pack_bins",
            "pipeline_curation_end_to_end",
            "skew_salted_join_lang",
        ]
        skew_names.sort(
            key=lambda n: _skew_rank.index(n) if n in _skew_rank else 99
        )
    if run_stress:
        from multi_search_retrival_big_data_spark import tables as _tables
        from multi_search_retrival_big_data_spark.operators import dedup as _dedup
        from multi_search_retrival_big_data_spark.queries.pipeline_queries import (
            LSH_MAX_BUCKET as _CAP,
        )

        def _lsh_counts(d: str) -> dict[str, int]:
            # LSH candidate volume with and without the mega-bucket cap —
            # the dedup queries are candidate-bound, so THIS is the
            # scaling variable (the per-replica count is an md5-draw
            # variable: the Caesar remap re-rolls every borderline band
            # collision); uncapped-vs-capped on the same corpus is the
            # direct measure of what the cap saves
            docs = _tables.load(spark, "documents", d)
            sh = _dedup.char_shingles(docs, "doc_id", "text", _dedup.SHINGLE_K)
            sig = _dedup.minhash_signatures(sh, "doc_id", _dedup.NUM_PERM)
            buckets = _dedup.lsh_buckets(
                sig, "doc_id", _dedup.LSH_BANDS, _dedup.LSH_ROWS
            ).cache()
            out = {
                "uncapped": _dedup.lsh_candidate_pairs(buckets, "doc_id").count(),
                "capped": _dedup.lsh_candidate_pairs(
                    buckets, "doc_id", max_bucket=_CAP
                ).count(),
            }
            buckets.unpersist()
            return out

        from multi_search_retrival_big_data_spark import index_store as _ixs_sem
        from multi_search_retrival_big_data_spark.queries.pipeline_queries import (
            _SEM_ITERS as _SI,
            SEM_MAX_CELL_PRODUCTION as _SMC,
        )

        def _sem_counts(d: str) -> dict[str, int]:
            # semantic-cell shape + candidate volume — the scaling
            # variable for the SemDeDup family (within-cell pair
            # budget grows with Lloyd cell collapse, not raw corpus
            # size, so the x10 time ratio must be read against THIS)
            _, a = _ixs_sem.ivf_trained(spark, d, iters=_SI)
            b = _dedup.semantic_cell_pair_budget(a).collect()[0]
            return {
                "n_cells": b["n_cells"],
                "max_cell_size": b["max_cell_size"],
                "uncapped_pairs": b["uncapped_pairs"],
                "capped_candidates": _dedup.semantic_candidates(a, _SMC).count(),
                "max_cell": _SMC,
            }

        stress_dir = _build_stress_dir(spark, sf_dir, STRESS_REPLICATION)
        # tier boundary hygiene: the corpus build above is a huge write
        # job and the grid left ~90 anchors of cached blocks/codegen in
        # this JVM; the tier's FIRST anchors (the MinHash x10 family)
        # otherwise measure that residue (r9: 19.9 s in-grid vs 5.4 s
        # fresh-session for dedup_minhash_lsh_capped at x10)
        _session_hygiene(spark)
        stress_names = [
            n for n in STRESS_QUERIES if n in qs and n not in x10_omit
        ]
        uniform_names = list(dict.fromkeys(stress_names + skew_names))
        if BUDGET_S > 0:
            result["tier_profile"] = {
                "x10_omitted": sorted(x10_omit),
                "skew_omitted": sorted(skew_omit),
                "omit_rotation_group": ROTATION_INDEX,
                "omit_rotation_groups": ROTATION_GROUPS,
                "x10_runs": TIER_RUNS,
                "skew_runs": SKEW_RUNS,
                "note": "driver profile: stable-evidence anchors thinned "
                        "(one third of each omit pool re-measures per "
                        "round, keyed like the x1 rotation) and tier "
                        "runs reduced to fit every tier in budget; close "
                        "run (budget=0) measures the full set at "
                        "median-of-3",
            }
        # tier dict wired BEFORE timing and re-emitted per anchor, so a
        # kill mid-tier still leaves every completed x10 timing parsed
        stress: dict[str, float] = {}
        ratios: dict[str, float] = {}
        result["tiers"] = {
            "x1": {n: timings[n] for n in uniform_names if n in timings},
            f"x{STRESS_REPLICATION}": stress,
            "scale_ratio": ratios,
            "replication": STRESS_REPLICATION,
        }

        def _tier_anchor(name: str, med: float) -> None:
            stress[name] = med
            if timings.get(name):
                ratios[name] = round(med / timings[name], 2)
            emit()

        _time_queries(
            spark, qs, uniform_names, stress_dir,
            on_anchor=_tier_anchor, skipped=skipped, runs=TIER_RUNS,
        )
        emit()

        # candidate-volume counts: the scaling variables the time
        # ratios are read against; ~60-90 s of aggregation jobs, so
        # they respect the deadline too (the timings above still stand)
        if _remaining() > 90:
            result["tiers"]["lsh_candidates"] = {
                "x1": _lsh_counts(sf_dir),
                f"x{STRESS_REPLICATION}": _lsh_counts(stress_dir),
            }
            sem_counts = {
                "x1": _sem_counts(sf_dir),
                f"x{STRESS_REPLICATION}": _sem_counts(stress_dir),
            }
            result["tiers"]["semantic_cells"] = sem_counts

            # BUDGET-NORMALIZED semantic rate (r9 verdict item 2): the
            # SemDeDup family is candidate-bound, so the scaling claim
            # is sec per 1M capped candidates, not raw wall-clock — the
            # r9 driver measured the x10 time ratio at 12.13 vs the
            # builder's 8.72 against the SAME ~10.2x pair-budget ratio,
            # a pure ambient factor this normalization divides out.
            xk = f"x{STRESS_REPLICATION}"
            if timings.get("dedup_semantic_keep") and stress.get(
                "dedup_semantic_keep"
            ):
                r1 = timings["dedup_semantic_keep"] / (
                    sem_counts["x1"]["capped_candidates"] / 1e6
                )
                r10 = stress["dedup_semantic_keep"] / (
                    sem_counts[xk]["capped_candidates"] / 1e6
                )
                result["tiers"]["semantic_rate_sec_per_1m_pairs"] = {
                    "x1": round(r1, 3),
                    xk: round(r10, 3),
                    "normalized_ratio": round(r10 / r1, 2),
                    "note": "dedup_semantic_keep time / (capped_candidates"
                            "/1e6); ratio ~1 = cost linear in pair budget",
                }

            # same normalization for the capped-LSH production path
            # (r10: the uncapped audit twin's x10 wall-ratio is omitted
            # from the driver profile as quadratic-path ambient noise —
            # the per-candidate rate is the number that survives
            # environment shifts for the path that IS still timed)
            lsh1 = result["tiers"]["lsh_candidates"]["x1"]["capped"]
            lsh10 = result["tiers"]["lsh_candidates"][xk]["capped"]
            if (
                timings.get("dedup_minhash_lsh_capped")
                and stress.get("dedup_minhash_lsh_capped")
                and lsh1
                and lsh10
            ):
                l1 = timings["dedup_minhash_lsh_capped"] / (lsh1 / 1e6)
                l10 = stress["dedup_minhash_lsh_capped"] / (lsh10 / 1e6)
                result["tiers"]["lsh_rate_sec_per_1m_pairs"] = {
                    "x1": round(l1, 3),
                    xk: round(l10, 3),
                    "normalized_ratio": round(l10 / l1, 2),
                    "time_ratio": round(
                        stress["dedup_minhash_lsh_capped"]
                        / timings["dedup_minhash_lsh_capped"],
                        2,
                    ),
                    "candidate_ratio": round(lsh10 / lsh1, 2),
                    # EXPECTATION corrected (verdict r10 item 9 — the
                    # r10 driver read 0.14 against a "~1" note): unlike
                    # dedup_semantic_keep (whose ~60k x1 candidates
                    # dominate its cost, so sec-per-pair is the right
                    # unit and ~1 the right bar), the capped-LSH anchor
                    # at x1 is FIXED-COST dominated — its ~5k capped
                    # pairs cost ~nothing next to the corpus-bound
                    # signature/bucket scan and windows, so sec-per-1M-
                    # pairs at x1 overstates the marginal rate by the
                    # fixed/marginal split (measured r10: time grew
                    # 2-6x while pairs grew 14x). The gauge is a one-
                    # sided SUPERLINEAR ALARM: ratio >> 1 (say > 3)
                    # means per-candidate cost grew with scale; any
                    # value <= ~1 is the expected fixed-cost dilution.
                    "note": "one-sided alarm: sec-per-1M-capped-pairs "
                            "at x10 vs x1; x1 is fixed-cost dominated "
                            "(~5k pairs), so <=1 expected, >3 = "
                            "superlinear per-candidate cost",
                }

            # dHash BANDING-GEOMETRY gauge at scale (r9 verdict item 3):
            # uncapped/capped pair budgets for the production 64-bit/
            # 8-bit-band geometry vs the wide 128-bit/16-bit one at x1
            # AND x10 — the density-saturation evidence the
            # multimodal_image_family_grid row prices at sf0.1, extended
            # to the x10 corpus where the 8-bit space's quadratic growth
            # is unmistakable and the 16-bit space stays ~flat
            if _remaining() > 120:
                from multi_search_retrival_big_data_spark.operators import (
                    multimodal as _mm,
                )

                def _dhash_counts(d: str) -> dict:
                    frames = _mm.synth_keyframes(
                        _mm.as_media_table(_tables.load(spark, "documents", d))
                    )
                    out = {}
                    for arm, rows_, w_, fill in (
                        ("fp64_b8", _mm.DHASH_ROWS, 8, False),
                        ("fp128_b16", _mm.WIDE_DHASH_ROWS,
                         _mm.WIDE_BAND_WIDTH, True),
                    ):
                        fp = _mm.dhash_fingerprints(
                            frames, rows=rows_, fill_empty=fill
                        )
                        r = _mm.dhash_band_density(
                            fp, chunks=8, width=w_,
                            max_bucket=_mm.DHASH_MAX_BUCKET,
                        ).collect()[0]
                        out[arm] = {
                            "all_pairs": r["all_pairs"],
                            "capped_pairs": r["capped_pairs"],
                            "max_bucket_size": r["max_bucket_size"],
                            "saturation_ratio": round(
                                r["all_pairs"] / max(1, r["capped_pairs"]), 2
                            ),
                        }
                    return out

                result["tiers"]["dhash_band_density"] = {
                    "x1": _dhash_counts(sf_dir),
                    xk: _dhash_counts(stress_dir),
                }

            # retrain-policy arms (ann.ivf_nlist, r7 verdict item 3):
            # the x10 _sem_counts above IS the retrained arm — the
            # TIMED x10/skew dedup_semantic_keep runs ivf_trained on
            # the grown corpus, i.e. the production policy path
            # (nlist=⌈N/62⌉ re-elected per corpus; r8 measured time
            # ratio 10.99 vs pair-budget ratio 10.19 — linear in
            # budget). The FROZEN arm below is the DRIFT GAUGE only:
            # the same x10 corpus assigned under the x1-trained
            # quantizer, what an append-only path would serve without
            # a retrain (r8: 173.6× pair budget — the policy's
            # motivation, never its default).
            from pyspark.sql import functions as _F

            def _frozen_arm_counts() -> dict[str, int]:
                from multi_search_retrival_big_data_spark.operators import (
                    kmeans as _km,
                )

                cent_df, _ = _ixs_sem.ivf_trained(spark, sf_dir, iters=_SI)
                cents = [(r["cid"], r["cv"]) for r in cent_df.collect()]
                emb10 = _tables.load(spark, "embeddings", stress_dir)
                per = (
                    emb10.select(_km.assign_cid("embedding", cents).alias("cid"))
                    .groupBy("cid")
                    .agg(_F.count(_F.lit(1)).alias("n"))
                    .agg(
                        _F.count(_F.lit(1)).alias("n_cells"),
                        _F.max("n").alias("max_cell_size"),
                        _F.sum(
                            (_F.col("n") * (_F.col("n") - _F.lit(1)) / _F.lit(2)).cast(
                                "bigint"
                            )
                        ).alias("uncapped_pairs"),
                    )
                    .collect()[0]
                )
                return {
                    "n_cells": per["n_cells"],
                    "max_cell_size": per["max_cell_size"],
                    "uncapped_pairs": per["uncapped_pairs"],
                }

            if BUDGET_S <= 0:
                frozen_x10 = _frozen_arm_counts()
                x1_pairs = sem_counts["x1"]["uncapped_pairs"]
                result["tiers"]["semantic_retrain"] = {
                    "frozen_x10": frozen_x10,
                    "retrained_x10": {
                        k: sem_counts[f"x{STRESS_REPLICATION}"][k]
                        for k in ("n_cells", "max_cell_size", "uncapped_pairs")
                    },
                    "budget_ratio_frozen": round(
                        frozen_x10["uncapped_pairs"] / max(1, x1_pairs), 2
                    ),
                    "budget_ratio_retrained": round(
                        sem_counts[f"x{STRESS_REPLICATION}"]["uncapped_pairs"]
                        / max(1, x1_pairs),
                        2,
                    ),
                }
            else:
                # the frozen-quantizer drift gauge re-assigns the whole
                # x10 corpus under the x1 model (~45 s) and its verdict
                # has been stable since r7 (~17x pair blowup, the
                # retrain policy's motivation) — close-run evidence;
                # the TIMED x10 path above is always the retrained
                # production policy either way
                result["tiers"]["semantic_retrain"] = (
                    "driver profile: frozen-arm gauge runs on the close "
                    "run (budget=0); policy path is the timed x10 row"
                )
        else:
            result["tiers"]["counts_skipped"] = "budget"
        emit()


    if want_dim and tier_fits("dim768"):
        # the nprobe tuning grid is close-run-only under a budget: cell
        # geometry depends on dim, not round, and the driver profile
        # spends the saved ~40 s on keeping skew/concurrency in-budget
        result["dim_tier"] = _run_dim_tier(
            spark,
            sf_dir,
            paths=None if BUDGET_S <= 0 else DRIVER_DIM_PATHS,
            grids=BUDGET_S <= 0,
        )
        emit()
        # width × scale cross: the d=768 serving subset re-measured on
        # the 10× corpus (20k rows at production width). Ratios should
        # track each path's candidate volume — the dense/ADC scans are
        # corpus-bound by design, the pruned paths grow with bucket /
        # cell membership, never with raw corpus size
        # close-run only: the cross re-derives the d=768 corpus and its
        # index tables over the 10× corpus (expensive fixed cost); the
        # driver profile's scale evidence lives in the x10 tier above
        if stress_dir is not None and BUDGET_S <= 0 and _remaining() > 120:
            x10_paths = (
                "dense_topk_cosine_arrow",
                "ann_lsh_topk",
                "ann_ivf_topk",
                "ann_pq_rerank_trained",
            )
            dim_x10 = _run_dim_tier(spark, stress_dir, paths=x10_paths, grids=False)
            x1q = result["dim_tier"]["queries"]
            dim_x10["scale_ratio"] = {
                n: round(t / x1q[n], 2)
                for n, t in dim_x10["queries"].items()
                if x1q.get(n)
            }
            result["dim_tier"][f"x{STRESS_REPLICATION}"] = dim_x10
            emit()

    if want_conc and tier_fits("concurrency"):
        result["concurrency"] = _run_concurrency(spark, qs, sf_dir, reps=CONC_REPS)
        emit()

    # adversarially skewed 10× tier: same row count as the uniform
    # tier, hot keys + one mega duplicate cluster; ratio ≈ 1 vs the
    # uniform tier means the mitigation holds under skew. Runs AFTER
    # the fixed-cost dim768/concurrency tiers (r10): those are
    # all-or-nothing reserves while skew degrades GRACEFULLY one
    # anchor at a time (claim-value order below), so leftover budget
    # thins the skew tail instead of dropping a whole tier
    if run_stress and tier_fits("skew"):
        skew_dir = _build_skew_dir(spark, sf_dir, STRESS_REPLICATION)
        _session_hygiene(spark)
        skew: dict[str, float] = {}
        skew_ratios: dict[str, float] = {}
        result["tiers"]["skew"] = {
            "queries": skew,
            "skew_ratio_vs_uniform_x10": skew_ratios,
            "shape": "replicas 0-2 -> lang=en/src_hot (~30% one key); "
                     "2% of rows byte-identical boilerplate (one mega cluster)",
        }

        def _skew_anchor(name: str, med: float) -> None:
            skew[name] = med
            if stress.get(name):
                skew_ratios[name] = round(med / stress[name], 2)
            emit()

        _time_queries(
            spark, qs, skew_names, skew_dir,
            on_anchor=_skew_anchor, skipped=skipped, runs=SKEW_RUNS,
            cost_hints=stress,
        )
        emit()
        # the skew-corpus candidate counts (mega-bucket stats, viral
        # sem cells) re-derive a Lloyd quantizer + bucket stats on
        # the skew corpus (~2 min) — close-run evidence; the skew
        # TIMINGS above are the per-round claim
        if BUDGET_S <= 0 and _remaining() > 60:
            mega = (
                _dedup.lsh_bucket_stats(
                    _dedup.lsh_buckets(
                        _dedup.minhash_signatures(
                            _dedup.char_shingles(
                                _tables.load(spark, "documents", skew_dir),
                                "doc_id",
                                "text",
                                _dedup.SHINGLE_K,
                            ),
                            "doc_id",
                            _dedup.NUM_PERM,
                        ),
                        "doc_id",
                        _dedup.LSH_BANDS,
                        _dedup.LSH_ROWS,
                    ),
                    "doc_id",
                    _CAP,
                )
                .agg(
                    {"n_mega_buckets": "sum", "mega_members": "sum",
                     "full_pairs": "sum", "capped_pairs": "sum"}
                )
                .collect()[0]
            )
            result["tiers"]["skew"]["semantic_cells"] = _sem_counts(skew_dir)
            result["tiers"]["skew"]["lsh_candidates"] = _lsh_counts(skew_dir)
            result["tiers"]["skew"]["lsh_mega_buckets"] = {
                "n_mega_buckets": mega["sum(n_mega_buckets)"],
                "mega_members": mega["sum(mega_members)"],
                "full_pairs_uncapped": mega["sum(full_pairs)"],
                "pairs_after_cap": mega["sum(capped_pairs)"],
            }
        else:
            result["tiers"]["skew"]["counts_skipped"] = (
                "budget" if BUDGET_S <= 0 else
                "driver profile: skew candidate counts run on the "
                "close run (budget=0)"
            )
        shutil.rmtree(skew_dir, ignore_errors=True)
        emit()

    # the ROTATING x1 tail (driver profile only): whatever budget is
    # left after every tier goes to this round's third of the non-core
    # x1 anchors — a tight budget thins this tail (per-anchor gate,
    # recorded in "skipped"), never a tier
    if rotation_names:
        _session_hygiene(spark)
        _time_queries(
            spark, qs, rotation_names, sf_dir, spreads,
            on_anchor=_on_anchor, skipped=skipped,
        )
        emit()

    # the stress corpora are throwaway scratch dirs but their index
    # builds land in the shared warehouse under fresh content
    # fingerprints — retire them (and any generation stranded by a
    # prior run) now that the tier timings are recorded
    if stress_dir is not None:
        shutil.rmtree(stress_dir, ignore_errors=True)
    if want_stress or want_dim:
        # dropping stale generations is a metadata+rmtree sweep, but
        # with many stranded generations it can run minutes (r10: 30
        # generations ≈ 3 min) — under a budget it only starts with
        # headroom left; close runs always sweep
        if BUDGET_S <= 0 or _remaining() > 60:
            from multi_search_retrival_big_data_spark import index_store as _ixs

            live = [sf_dir] + sorted(glob.glob("/root/testdata/sf*"))
            result["index_gc"] = {
                "dropped": len(_ixs.gc_stale_index_tables(spark, live))
            }
        else:
            result["index_gc"] = "skipped (budget); next close run sweeps"
    emit()


if __name__ == "__main__":
    main()
