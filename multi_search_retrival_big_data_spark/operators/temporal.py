"""Temporal / sequence operators — S3 (range-join assignment),
Q16 (temporal-neighborhood re-query), Q19 (±N neighborhood browse).

Reference shapes:
- S3: assign each keyframe to the shot whose [start, end] frame range
  contains it, then enumerate a dense global id in (collection, video,
  frame) order (data_preparation.ipynb cells 5-6).
- Q16: for each shot in a previous result, take the next/previous R
  shots of the same video, re-run the search restricted to them, and
  rank by current + previous best (utils/search_utils.py:96-221).
- Q19: sibling items of the selected shot ±5 (app.py:499-541).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def range_assign(
    items: DataFrame,
    ranges: DataFrame,
    item_point: str,
    range_start: str,
    range_end: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """S3 — containment join: item.point BETWEEN range.start AND
    range.end (inclusive, like the reference's pointer loop). With
    `keys`, the range predicate rides on an equi-join, so Catalyst
    plans a hash join + filter, not a nested loop."""
    keys = keys or []
    cond = (F.col(item_point) >= F.col(range_start)) & (F.col(item_point) <= F.col(range_end))
    for k in keys:
        cond = (items[k] == ranges[k]) & cond
    out = items.join(ranges, cond)
    return out.drop(*(ranges[k] for k in keys)) if keys else out


def dense_global_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "global_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """S3 step 2 — the reference's `dict(enumerate(...))` dense id
    (data_preparation.ipynb cells 5-6): the ids of `row_number() OVER
    (ORDER BY order_cols) - 1`, without ever sorting the corpus in one
    task — the zipWithIndex shape expressed in DataFrame ops:

    1. `repartitionByRange(order_cols)` — partition p holds a
       contiguous key range, every range below partition p+1's;
    2. per-partition `row_number()` (window PARTITIONed by
       `spark_partition_id()` — parallel, no global sort);
    3. per-partition counts → exclusive prefix-sum offsets (a window
       over |partitions| rows — trivially small) broadcast-joined
       back: id = offset + local_rank - 1.

    Bit-equal to the global row_number window whenever `order_cols`
    is a unique key (here: (collection, video, frame_idx)); with
    duplicate keys both spellings are tie-ambiguous anyway. The only
    full-data movements are the range shuffle and a narrow broadcast
    join — nothing single-task."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    local = parted.withColumn("__rn", F.row_number().over(w))
    counts = local.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__rn") - F.lit(1)).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def sequence_rank(
    df: DataFrame, keys: list[str], order_cols: list[str], rank_col: str = "seq"
) -> DataFrame:
    """Ordinal position within a group — the 'shot number inside a
    video' analogue used by Q16/Q19."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(rank_col, F.row_number().over(w))


def temporal_neighborhood(
    anchors: DataFrame,
    sequenced: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    mode: int = 1,
    range_filter: int = 3,
) -> DataFrame:
    """Q16 window step — for each anchor (keys…, seq), the rows of the
    same group in the next `range_filter` positions (mode=1) or the
    previous ones (mode=2), excluding the anchor itself
    (search_utils.py:151-158). Equi-join on keys + bounded BETWEEN on
    seq; duplicates collapse via distinct on the target id, matching
    the reference's `sorted(set(...))` at :161.

    Window-size note: the reference's `range(start, end)` at :155 is
    END-EXCLUSIVE, so its literal mode-1 window is shot+1..shot+R-1
    (R-1 shots) and mode-2 is shot-R..shot-2. This operator pins the
    documented intent instead — `range_filter=R` means R neighboring
    shots, symmetric in both modes; pass `range_filter=R-1` (mode 1)
    for bug-compatible output."""
    a = anchors.select(*[F.col(k) for k in keys], F.col(seq_col).alias("__aseq"))
    if mode == 1:
        cond = (F.col(seq_col) > F.col("__aseq")) & (
            F.col(seq_col) <= F.col("__aseq") + range_filter
        )
    else:
        cond = (F.col(seq_col) < F.col("__aseq")) & (
            F.col(seq_col) >= F.col("__aseq") - range_filter
        )
    joined = sequenced.join(a, on=keys, how="inner").filter(cond).drop("__aseq")
    return joined.distinct()


def neighborhood_browse(
    sequenced: DataFrame,
    keys: list[str],
    anchor: dict,
    seq_col: str = "seq",
    radius: int = 5,
) -> DataFrame:
    """Q19 — the ±radius window around one selected position
    (app.py:511-513 `shot BETWEEN sel-5 AND sel+5`)."""
    cond = F.lit(True)
    for k, v in anchor.items():
        if k != seq_col:
            cond = cond & (F.col(k) == F.lit(v))
    sel = anchor[seq_col]
    return sequenced.filter(
        cond & (F.col(seq_col) >= sel - radius) & (F.col(seq_col) <= sel + radius)
    )


def neighborhood_browse_by_id(
    sequenced: DataFrame,
    keys: list[str],
    id_col: str,
    anchor_id,
    seq_col: str = "seq",
    radius: int = 5,
) -> DataFrame:
    """Q19 with the anchor resolved IN-PLAN: the selected row is a
    1-row broadcast joined back on its group keys (same shape as
    dense.knn_by_id's reconstruct), so the whole browse is one
    distributed plan — no `.first()` driver round-trip between the
    anchor lookup and the window filter (reference does the dict lookup
    in-process, app.py:499-513; this is its cluster-side analogue)."""
    a = F.broadcast(
        sequenced.filter(F.col(id_col) == F.lit(anchor_id)).select(
            *[F.col(k) for k in keys], F.col(seq_col).alias("__aseq")
        )
    )
    return (
        sequenced.join(a, on=keys, how="inner")
        .filter(
            (F.col(seq_col) >= F.col("__aseq") - radius)
            & (F.col(seq_col) <= F.col("__aseq") + radius)
        )
        .drop("__aseq")
    )
