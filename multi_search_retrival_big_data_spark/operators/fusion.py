"""Score-fusion operators — Q8 (min-max + additive) and Q9 (L2 +
dedup-max), the reference's utils/combine_utils.py.

Both take a list of (id, score) DataFrames — one per source/channel —
and return a single fused (id, score) ranking. Fusion is where the
reference's multi-modal character lives: every multi-channel /
dual-model / tri-modal query funnels through these (SURVEY.md Q6, Q7,
Q12, Q13).

Scale shape: per-source min/max are scalar aggregates (one tiny
all-reduce each, broadcast back into the plan — no window over the
full source, no sort); the fuse itself is union → groupBy(id), a
single shuffle proportional to the candidate count, not the corpus.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,
    quantized_sum,
)

MINMAX_EPS = 1e-6  # the reference's denominator epsilon (combine_utils.py:41)


def _as_id_score(df: DataFrame) -> DataFrame:
    id_col, score_col = df.columns[0], df.columns[1]
    return df.select(F.col(id_col).alias("id"), F.col(score_col).cast("double").alias("score"))


def minmax_normalize(df: DataFrame) -> DataFrame:
    """(s - min) / (max - min + 1e-6) over one source
    (combine_utils.py:40-43). Scalar agg + broadcast cross join — at
    100 TB this is two numbers moving, not a re-sort of the source."""
    d = _as_id_score(df)
    mm = d.agg(F.min("score").alias("__mn"), F.max("score").alias("__mx"))
    return d.crossJoin(F.broadcast(mm)).select(
        "id",
        ((F.col("score") - F.col("__mn")) / (F.col("__mx") - F.col("__mn") + F.lit(MINMAX_EPS))).alias(
            "score"
        ),
    )


def merge_by_addition(
    sources: list[DataFrame],
    k: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q8 — merge_searching_results_by_addition (combine_utils.py:29-65):
    min-max normalize each source, then SUM scores per id across
    sources (ids present in several sources get boosted — the quirk the
    reference's dict.get(idx, False) guard preserves, harmless because
    0 + x == x). Single-source input returns raw scores unchanged
    (the reference's shortcut at :33-38)."""
    if len(sources) == 1:
        out = _as_id_score(sources[0])
    else:
        normed = [minmax_normalize(s) for s in sources]
        unioned = reduce(lambda a, b: a.unionByName(b), normed)
        # few addends per id (≤ #sources): quantized exact sum keeps
        # Spark's agg order and the oracle's sequential order identical
        out = unioned.groupBy("id").agg(quantized_sum(F.col("score")).alias("score"))
    if round_to is not None:
        out = out.select("id", det_round(F.col("score"), round_to).alias("score"))
    out = out.orderBy(F.desc("score"), F.asc("id"))
    return out.limit(k) if k is not None else out


RRF_K0 = 60  # the constant of Cormack, Clarke & Buettcher (SIGIR 2009)


def reciprocal_rank_fusion(
    sources: list[DataFrame],
    k0: int = RRF_K0,
    k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion: score(d) = Σ_lists 1/(k0 + rank_list(d)).

    Rank-only fusion — immune to incomparable score scales across
    channels, which is the property the reference's min-max
    normalization approximates numerically (combine_utils.py:40-43);
    RRF is the standard modern alternative for the same hybrid
    sparse+dense merge (Cormack et al. 2009; Elasticsearch/Vespa
    hybrid retrieval default). Same call shape as merge_by_addition so
    every multi-channel query can swap fusers.

    Determinism: rank = row_number ordered by (score DESC, id ASC) —
    both engines rank det-rounded scores, so ranks are identical; each
    addend 1e12/(k0+rank) is FLOOR-quantized before an exact
    DECIMAL(38,0) sum (the functions/rounding.quantized_sum
    rationale), making the accumulation order-independent and
    bit-equal cross-engine.

    Scale shape: every source is a request-sized top-k list, so the
    rank window is a single-partition sort over ≤k rows — never a
    corpus window; the fuse itself is union → groupBy(id) over ≤ Σk
    rows. Nothing here touches the corpus."""
    from pyspark.sql.window import Window

    ranked = []
    for s in sources:
        d = _as_id_score(s)
        w = Window.orderBy(F.desc("score"), F.asc("id"))
        ranked.append(d.select("id", F.row_number().over(w).alias("r")))
    unioned = reduce(lambda a, b: a.unionByName(b), ranked)
    # one double division per addend (1e12/(k0+r)) — NOT (1/(k0+r))·1e12,
    # which can differ by an ulp; the oracle emits the same single division
    addend = F.floor(
        F.lit(1e12) / (F.lit(float(k0)) + F.col("r").cast("double")) + F.lit(0.5)
    ).cast("decimal(38,0)")
    out = (
        unioned.groupBy("id")
        .agg((F.sum(addend).cast("double") / F.lit(1e12)).alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
    )
    return out.limit(k) if k is not None else out


def merge_l2_dedup_max(
    sources: list[DataFrame],
    k: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q9 — legacy merge_searching_results (combine_utils.py:4-27):
    scale each source by the L2 norm of its score vector, concatenate,
    keep the best-scored occurrence per id (np.unique keeps the first
    hit of the desc-sorted concat == max per id)."""
    normed = []
    for s in sources:
        d = _as_id_score(s)
        nrm = d.agg(F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("__l2"))
        normed.append(
            d.crossJoin(F.broadcast(nrm)).select(
                "id", (F.col("score") / F.col("__l2")).alias("score")
            )
        )
    unioned = reduce(lambda a, b: a.unionByName(b), normed)
    out = unioned.groupBy("id").agg(F.max("score").alias("score"))
    if round_to is not None:
        out = out.select("id", det_round(F.col("score"), round_to).alias("score"))
    out = out.orderBy(F.desc("score"), F.asc("id"))
    return out.limit(k) if k is not None else out
