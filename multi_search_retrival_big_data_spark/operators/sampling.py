"""Deterministic sampling and sketching operators for training-data
pipelines.

The reference engine serves interactive queries over a fixed corpus and
never samples (its only subsetting is id-list filtering,
/root/reference/utils/search_utils.py:120-161); a 100 TB corpus
pipeline constantly needs *reproducible* subsets — eval splits, human
QA draws, per-language caps — and cheap cardinality estimates. Every
operator here is a pure function of the data (md5-keyed, no RNG state),
so a re-run, a retry after task failure, or a different cluster layout
produces byte-identical samples — which is also what makes them
oracle-checkable in DuckDB.

Scale shapes:
- hash_sample: scan + filter, zero shuffles; the sample decision is
  row-local. Composes with column pruning (the md5 input is the id
  column only).
- stratified_sample: one window shuffle partitioned by the strata
  key(s). Safe while the number of strata is bounded and each stratum
  fits a task's sort spill; for giant strata pre-filter with
  hash_sample at an oversampling factor, then rank the survivors.
- kmv_distinct: per-partition partial agg on the hash value, then a
  TakeOrdered(k) merge — O(k) rows reach the driver side of the plan,
  never the value set itself. This is the classic KMV (k minimum
  values) estimator: E[distinct] ≈ (k-1) / fraction_of_hash_space
  below the k-th minimum (Bar-Yossef et al. 2002).
- heavy_hitters: map-side partial count per token then one shuffle on
  the token key; top-k via TakeOrderedAndProject (k·partitions rows
  move, no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators.dedup import shingle_int_value

# 2^32 — the hash-space size of the 32-bit md5-prefix value used by
# shingle_int_value; the KMV estimate scales by it.
HASH_SPACE = float(1 << 32)


def hash_key(col: Column) -> Column:
    """Stable sampling key: md5 hex of the value's canonical string
    form. Lowercase fixed-width hex compares lexicographically as its
    numeric value in both Spark and DuckDB."""
    return F.md5(col.cast("string"))


def hash_sample(df: DataFrame, id_col: str, threshold_hex: str) -> DataFrame:
    """Deterministic Bernoulli-style sample: keep rows whose
    md5(id) < threshold_hex (a 32-char lowercase hex literal;
    '19999...' ≈ 10%). Row-local decision — no shuffle, stable under
    reruns, retries, and cluster layout, unlike df.sample() whose
    output depends on partitioning."""
    return df.filter(hash_key(F.col(id_col)) < F.lit(threshold_hex))


def stratified_sample(
    df: DataFrame, strata_cols: list[str], id_col: str, n_per_stratum: int
) -> DataFrame:
    """Fixed-size per-stratum sample: the n hash-smallest rows of each
    stratum, with the id as tiebreak. Adds `sample_rank` (1-based).
    One shuffle partitioned by the strata key(s)."""
    w = Window.partitionBy(*strata_cols).orderBy(hash_key(F.col(id_col)), F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


def kmv_distinct(values: DataFrame, col: str, k: int) -> DataFrame:
    """KMV distinct-count sketch over a value column (duplicates
    allowed) → ONE row (k_min, kth_hash, est_distinct). est =
    (k-1) · 2³² / kth_hash where kth_hash is the k-th smallest distinct
    32-bit hash value. When the sketch is underfilled (fewer than k
    distinct hashes survive) the estimator degenerates — standard KMV
    then returns the exact count k_min; likewise if kth_hash is 0 (the
    lone minimum hash is the zero value) the ratio would divide by
    zero, so the exact branch takes over. The distinct-hash reduction
    is a map-side partial agg (shuffle volume = distinct hashes, not
    rows); the k-minimum merge is TakeOrdered — only k·partitions hash
    values move."""
    # single-column distinct compiles to a hash aggregate with map-side
    # partial aggregation — shuffle volume is distinct hashes, not rows
    vals = values.select(shingle_int_value(F.col(col)).alias("v")).distinct()
    small = vals.orderBy("v").limit(k)
    return small.agg(
        F.count(F.lit(1)).alias("k_min"),
        F.max("v").alias("kth_hash"),
    ).select(
        "k_min",
        "kth_hash",
        F.when(
            (F.col("k_min") < F.lit(k)) | (F.col("kth_hash") <= F.lit(0)),
            F.col("k_min").cast("double"),
        )
        .otherwise(
            (F.col("k_min") - F.lit(1)).cast("double")
            * F.lit(HASH_SPACE)
            / F.col("kth_hash").cast("double")
        )
        .alias("est_distinct"),
    )


def binned_quantiles(
    df: DataFrame, col: str, bin_width: int, ps: list[float]
) -> DataFrame:
    """Histogram-sketch quantile estimates over an integer column →
    one row per p: (p, est). The corpus collapses to a fixed-width
    histogram (bin = floor(x/W), one map-side-combined groupBy whose
    shuffle volume is the BIN COUNT, not rows), then each requested
    quantile is read off the cumulative histogram by linear
    interpolation inside its bin:

        est = bin·W + (p·N − cum_before) / bin_n · W

    This is the streaming-friendly fixed-bin sketch (the degenerate
    equal-width cousin of t-digest/KLL, which are order-dependent and
    therefore neither deterministic under re-partitioning nor
    oracle-checkable): error is bounded by the bin width W regardless
    of N. Everything after the histogram is driver-sized (bins ×
    quantiles); the windows/joins below run on that tiny frame, not
    the corpus. All arithmetic is exact-integer or deterministic IEEE
    ops, so the estimate is bit-identical across engines."""
    bins = (
        df.select(F.floor(F.col(col) / F.lit(float(bin_width))).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cums = bins.withColumn(
        "cum",
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = df.agg(F.count(F.lit(1)).alias("N"))
    ps_df = (
        tables.local_frame(df.sparkSession, [(float(p),) for p in ps], "p double")
        .crossJoin(F.broadcast(total))
        .select("p", (F.col("p") * F.col("N")).alias("t"))
    )
    hit_w = Window.partitionBy("p").orderBy("bin")
    return (
        ps_df.join(F.broadcast(cums), F.col("cum") >= F.col("t"))
        .withColumn("__rn", F.row_number().over(hit_w))
        .filter(F.col("__rn") == 1)
        .select(
            "p",
            (
                F.col("bin") * F.lit(bin_width)
                + (F.col("t") - (F.col("cum") - F.col("n")))
                / F.col("n")
                * F.lit(bin_width)
            ).alias("est"),
        )
    )


def heavy_hitters(
    per_doc_values: DataFrame, col: str, k: int
) -> DataFrame:
    """Top-k most frequent values → (value, freq), ordered by
    freq DESC then value ASC (total order). Input rows are (doc, value)
    pairs already deduplicated per doc if document-frequency semantics
    are wanted. Partial aggregation runs map-side; the top-k is a
    TakeOrderedAndProject, not a global sort."""
    return (
        per_doc_values.groupBy(col)
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc(col))
        .limit(k)
    )
