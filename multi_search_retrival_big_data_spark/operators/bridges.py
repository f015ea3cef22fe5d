"""Bridge-table operators — S6/S7 (bridge construction) and Q10/Q11
(score propagation through many-to-many bridges).

Reference shapes:
- S6: VAD audio segments × shots interval-overlap → audio_id2img
  bridge (data_preparation.ipynb cell 14, two-pointer merge).
- S7: per shot, the 2 audio segments with nearest centers →
  img_id2audio bridge (cells 25-26, argsort of abs diffs).
- Q10: audio-seg scores fan out to every bridged keyframe, summing
  when a keyframe maps from several segments
  (utils/faiss_processing.py:176-192).
- Q11: invert the bridge over an allowed keyframe subset → candidate
  segments → score → propagate back, summing (:194-231).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,
    quantized_sum,
)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    keys: list[str] | None = None,
    bucket_seconds: float | None = None,
) -> DataFrame:
    """S6 — overlap join: ``l.start < r.end AND l.end > r.start``
    (strict, matching the reference's two-pointer break conditions).

    Column name collisions between the two sides must be resolved by
    the caller (alias/rename) — only `keys` may be shared.

    Scale strategy: a raw range predicate compiles to
    broadcast-nested-loop — O(|L|·|R|) per key and a non-starter at
    100 TB. With `bucket_seconds` set, each interval is exploded to the
    time buckets it covers and the join becomes an **equi-join** on
    (keys…, bucket) + overlap filter; the pair is kept only in the
    bucket containing max(l_start, r_start), which dedupes without a
    distinct (each overlapping pair is counted exactly once). Shuffle
    volume is then O(intervals × avg buckets per interval)."""
    keys = keys or []
    overlap = (F.col(l_start) < F.col(r_end)) & (F.col(l_end) > F.col(r_start))
    if bucket_seconds is None:
        cond = overlap
        for k in keys:
            cond = (left[k] == right[k]) & cond
        joined = left.join(right, cond)
        return joined.drop(*(right[k] for k in keys)) if keys else joined

    def _b(col: str) -> Column:
        return F.floor(F.col(col).cast("double") / F.lit(float(bucket_seconds)))

    l = left.withColumn(
        "__bucket", F.explode(F.sequence(_b(l_start), _b(l_end)))
    )
    r = right.withColumn(
        "__bucket", F.explode(F.sequence(_b(r_start), _b(r_end)))
    )
    anchor = F.floor(
        F.greatest(F.col(l_start), F.col(r_start)).cast("double") / F.lit(float(bucket_seconds))
    )
    cond = l["__bucket"] == r["__bucket"]
    for k in keys:
        cond = (l[k] == r[k]) & cond
    out = (
        l.join(r, cond)
        .filter(overlap & (l["__bucket"] == anchor))
        .drop(l["__bucket"])
        .drop(r["__bucket"])
    )
    return out.drop(*(r[k] for k in keys)) if keys else out


def nearest_neighbors_join(
    left: DataFrame,
    right: DataFrame,
    l_point: str,
    r_point: str,
    n: int = 2,
    keys: list[str] | None = None,
    l_id: str | None = None,
    r_id: str | None = None,
    rank_col: str | None = None,
) -> DataFrame:
    """S7 — for each left row, the n right rows with the nearest
    point value (|l.point - r.point|), reference `find_nearest`
    argsort-top-2 semantics with deterministic tie-break on the right
    id. Partition-by-key shuffle + per-key window top-n; at scale,
    pre-bin points so each left row only meets a bounded right slice.

    Use integer point columns (e.g. unix_micros) when results must be
    oracle-comparable — double subtraction can reorder near-ties."""
    keys = keys or []
    cond = None
    for k in keys:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    joined = left.join(right, cond) if cond is not None else left.crossJoin(right)
    if keys:
        joined = joined.drop(*(right[k] for k in keys))
    diff = F.abs(F.col(l_point) - F.col(r_point))
    order = [diff.asc()] + ([F.col(r_id).asc()] if r_id else [])
    part = ([F.col(k) for k in keys] if keys else []) + ([F.col(l_id)] if l_id else [])
    w = Window.partitionBy(*part).orderBy(*order)
    rn = rank_col or "__rn"
    out = joined.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= n)
    return out if rank_col else out.drop("__rn")


def propagate_scores(
    scores: DataFrame,
    bridge: DataFrame,
    score_key: str,
    target_key: str,
    k: int | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q10 — fan scores out through a many-to-many bridge and SUM per
    target (asr_post_processing: a keyframe bridged from several
    scored segments accumulates all of them). One shuffle, partial agg.

    scores: (score_key, score); bridge: (score_key, target_key)."""
    joined = scores.join(bridge, score_key)
    total = quantized_sum(F.col("score"))
    if round_to is not None:
        total = det_round(total, round_to)
    out = joined.groupBy(target_key).agg(total.alias("score"))
    out = out.orderBy(F.desc("score"), F.asc(target_key))
    return out.limit(k) if k is not None else out


def subset_candidates_via_bridge(
    allowed_targets: DataFrame,
    bridge: DataFrame,
    score_key: str,
    target_key: str,
) -> DataFrame:
    """Q11 step 1 — invert the bridge over an allowed target set to
    get the candidate score-side ids (semi-join, no duplicates)."""
    tcol = allowed_targets.columns[0]
    return (
        bridge.join(
            allowed_targets.select(F.col(tcol).alias(target_key)), target_key, "left_semi"
        )
        .select(score_key)
        .distinct()
    )
