"""Second-stage cross-encoder reranking — the precision tail of
two-stage retrieval.

Reference placement: the reference's serving stack is FAISS recall +
a rerank tail — its rerank is vector-side relevance feedback
(/root/reference/app.py /feedback endpoint; utils/faiss_processing.py
re-query path, Q3). A cross-encoder is the text-side occupant of the
same slot in production retrieval stacks (bi-encoder recall stage →
cross-attention precision stage, MS MARCO rerankers): score each
(query, passage) candidate pair with a pair model, blend with the
first-stage score, re-rank.

Model seam: encoders.CrossEncoder — same placement as the reference's
model boundaries (encoders.py header). The deterministic fake scores
through the REAL Arrow mapInPandas plumbing; a production cluster
swaps the score() body and keeps the plan.

Scale shape: the rerank touches ONLY the request-sized candidate list
(first-stage top-n, n ≲ 100) — the one place per-pair Python inference
is affordable by design, because candidate count is independent of
corpus size. Passage text is attached by broadcasting the TINY hit
list into a corpus hash-join (one pruned scan; never a corpus shuffle,
never a corpus-side broadcast), then a single Arrow batch flows
through the encoder.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.encoders import CrossEncoder, FakeCrossEncoder
from multi_search_retrival_big_data_spark.functions.rounding import det_round

if TYPE_CHECKING:
    import pandas as pd

CE_SCHEMA = "id BIGINT, s1 DOUBLE, ce DOUBLE"


def attach_candidate_text(
    hits: DataFrame, corpus: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, score) hits + corpus → (id, score, text). The HIT side is
    broadcast (request-sized) and hash-joined against the corpus — the
    scale-correct direction: one corpus scan with a broadcast semi-side,
    no corpus shuffle and no corpus-sized broadcast."""
    return corpus.select(id_col, text_col).join(F.broadcast(hits), id_col)


MMR_LAMBDA = 0.7

# Hard fence on driver-side rerank tails: both rerank operators touch
# only the request-sized first-stage candidate list (n ≲ 100 by
# construction), but nothing upstream ENFORCES that — this cap does,
# the same misuse-proofing as connected_components_auto's
# driver_max_edges gate. Cost discipline: in mmr_rerank the fence is
# FOLDED INTO the relevance collect (a limit(cap+1) on the frame the
# collect reads — zero extra jobs; re-running the first-stage pipeline
# for a standalone probe measured +1.4 s on the diverse-search
# facade). cross_encoder_rerank has no driver materialization to fold
# into, so its probe is a limit(cap+1) count; callers whose candidate
# frame is bounded BY PLAN (a first-stage `.limit(n)` output — the
# stronger guarantee) pass max_candidates=None to skip the probe.
MAX_RERANK_CANDIDATES = 1000


def _fence_error(max_candidates: int, op: str) -> ValueError:
    return ValueError(
        f"{op}: candidate list exceeds max_candidates={max_candidates} "
        "(driver-side rerank tails are request-sized by contract; "
        "first-stage top-n the candidates before reranking, or raise "
        "the fence explicitly)"
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = MMR_LAMBDA,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel",
    round_to: int = 6,
    max_candidates: int = MAX_RERANK_CANDIDATES,
) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998): greedily select k items maximizing
    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), ties → id ASC — the
    classic redundancy-removing rerank for a result page of
    near-identical keyframes (the reference's dominant redundancy; its
    UI groups by video, MMR diversifies WITHIN the ranking).

    Execution shape: relevance and the n·(n−1) pairwise similarities
    are computed IN-PLAN (det-rounded Catalyst expressions over the
    request-sized candidate list) and collected — n ≤ a few hundred by
    construction, independent of corpus size; the greedy argmax chain
    is inherently sequential (each step depends on the previous
    selection), so it runs driver-side on the already-rounded values —
    the same placement as the reference's NumPy rerank tail
    (utils/faiss_processing.py re-query path). Every arithmetic step
    (λ·rel − (1−λ)·max sim, IEEE doubles over det-rounded inputs) is
    replicated verbatim by the recursive-CTE oracle, so the selection
    is engine-exact. The selected page goes back as a driver-built
    `LocalTableScan` (tables.local_frame): collecting it runs no job
    and starts no Python worker. Returns (sel_rank, id, rel)."""
    from multi_search_retrival_big_data_spark.functions.rounding import det_round
    from multi_search_retrival_big_data_spark.functions.vector import cosine_sim

    spark = candidates.sparkSession
    # ONE evaluation of the candidate pipeline (r11, guide §5/§2.4):
    # without the materialization, the first-stage pipeline feeding
    # `candidates` runs THREE times — once under the relevance collect
    # and once per side of the n² similarity self-join (measured on
    # endpoint_diverse_search: the sparse+dense+RRF+hydration lineage
    # re-evaluated per action dominated the 3.5-4.3 s anchor; after:
    # one evaluation + two reads of a ≤cap-row checkpoint). Eager
    # localCheckpoint is within-query lineage control: the candidate
    # list is request-sized BY CONTRACT (the fence below enforces the
    # cap with bounded driver ingest; executor-side materialization of
    # a miscalled corpus-sized input is bounded by the same storage
    # that any shuffle of it would use).
    sel = candidates.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col(rel_col).alias("rel")
    ).localCheckpoint()
    a = sel.select(F.col("id").alias("id_a"), F.col("v").alias("__va"))
    b = sel.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"))
    # zero-norm guard: a degenerate candidate's cosine is undefined
    # (NULL/NaN depending on engine arithmetic) — an EXPLICIT branch on
    # the squared-norm product pins sim = 0.0 identically in this plan
    # and in the oracle's mirrored CASE (r7 advice: a coalesce here
    # with a NULL-skipping SQL max() would diverge the moment a
    # zero-norm vector reached an oracle-compared query)
    from multi_search_retrival_big_data_spark.functions.vector import dot

    zero_norm = (dot("__va", "__va") * dot("__vb", "__vb")) == F.lit(0.0)
    sims_df = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(zero_norm, F.lit(0.0))
            .otherwise(det_round(cosine_sim("__va", "__vb"), round_to))
            .alias("sim"),
        )
    )
    # the FENCE rides the relevance collect: a limit(cap+1) on the
    # two-column projection bounds the driver ingest (no standalone
    # probe job — re-running the first-stage pipeline for one measured
    # +1.4 s on the diverse-search facade), raising BEFORE the n²
    # similarity collect runs; once it passes, n ≤ cap proves the
    # unlimited sims frame is ≤ cap² rows
    rel_rows = sel.select("id", "rel").limit(max_candidates + 1).collect()
    if len(rel_rows) > max_candidates:
        raise _fence_error(max_candidates, "mmr_rerank")
    rel = {r["id"]: r["rel"] for r in rel_rows}
    sim = {(r["id_a"], r["id_b"]): r["sim"] for r in sims_df.collect()}
    remaining = set(rel)
    selected: list[int] = []
    while remaining and len(selected) < k:
        best = None
        for c in remaining:
            if selected:
                mx = max(sim[(c, s)] for s in selected)
                score = lam * rel[c] - (1.0 - lam) * mx
            else:
                score = lam * rel[c]
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c)
        selected.append(best[1])
        remaining.discard(best[1])
    rows = [(i + 1, cid, rel[cid]) for i, cid in enumerate(selected)]
    return tables.local_frame(spark, rows, f"sel_rank BIGINT, {id_col} BIGINT, rel DOUBLE")


def cross_encoder_rerank(
    candidates: DataFrame,
    query_text: str,
    encoder: CrossEncoder | None = None,
    id_col: str = "doc_id",
    score_col: str = "score",
    text_col: str = "text",
    alpha: float = 0.5,
    k: int = 10,
    round_to: int = 6,
    max_candidates: int | None = MAX_RERANK_CANDIDATES,
) -> DataFrame:
    """Rerank a (id, first-stage score, text) candidate list by
    blended score alpha·s1 + (1−alpha)·ce(query, text), descending,
    ties → id ASC. Output: (id, score, ce_score).

    Determinism: s1 arrives det-rounded from the first stage, the fake
    ce is an exact 32-bit integer / 2³², and the blend is the same
    two-multiply-one-add IEEE expression the oracle renders — so the
    blended doubles are bit-identical cross-engine before the final
    det_round."""
    enc = encoder if encoder is not None else FakeCrossEncoder()
    sel = candidates.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(score_col).cast("double").alias("s1"),
        F.col(text_col).alias("txt"),
    )
    if max_candidates is not None:
        # probe count; pass None when the frame is bounded by plan
        # (a first-stage limit(n) output) — see MAX_RERANK_CANDIDATES
        if sel.limit(max_candidates + 1).count() > max_candidates:
            raise _fence_error(max_candidates, "cross_encoder_rerank")

    def _score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "s1": pdf["s1"],
                    "ce": [enc.score(query_text, t) for t in pdf["txt"]],
                }
            )

    scored = sel.mapInPandas(_score, CE_SCHEMA)
    blended = F.lit(float(alpha)) * F.col("s1") + F.lit(float(1.0 - alpha)) * F.col("ce")
    return (
        scored.select(
            F.col("id").alias(id_col),
            det_round(blended, round_to).alias("score"),
            det_round(F.col("ce"), round_to).alias("ce_score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
