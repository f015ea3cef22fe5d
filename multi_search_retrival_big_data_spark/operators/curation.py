"""Corpus-curation operators for training-data pipelines: PII
redaction, sequence packing, weighted sampling, incremental upsert,
and dataset-mixture interleaving.

The reference engine serves a fixed, pre-curated corpus (its only
mutation path is the idempotent skip-if-exists re-ingest in the
notebooks — /root/reference/data_extraction/clip/clip.ipynb cell 7,
SceneJSON.ipynb SKIP_EXISTING); a 100 TB training pipeline additionally
has to *edit* the corpus continuously: scrub PII before anything is
trained on, pack variable-length documents into fixed token budgets,
draw quality-weighted subsets, merge refreshed crawl batches, and
schedule multi-source mixtures at fixed ratios. Every operator here is
a pure DataFrame transform built from Catalyst expressions (no Python
UDFs), deterministic under retries and re-partitioning, and — because
the arithmetic is md5 / integer / quantized-double — value-exact
against the DuckDB oracle.

Scale shapes:
- redact_pii / count_pii: row-local regexp expressions inside
  whole-stage codegen; zero shuffles, composes with column pruning.
- pack_budget_bins: ONE window shuffle per partition column (the
  cumulative token sum). At 100 TB the per-partition window is
  replaced by the same range-partition + per-partition-offset two-pass
  used by temporal.dense_global_ids — the bin function is a
  pure function of the prefix sum, so it parallelizes identically.
- weighted_sample_aes: scan + TakeOrderedAndProject(k) — the priority
  is row-local, no shuffle beyond the top-k merge.
- upsert: ONE shuffle on the key (the anti-join); with both sides
  bucketed by the key it is shuffle-free. This is the relational core
  of MERGE INTO in Delta/Iceberg, expressed directly.
- mixture_interleave: one bounded-cardinality window (rank within
  source class) + a global top-n merge; all integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark.operators.dedup import shingle_int_value

# PII patterns restricted to the regex subset with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): character classes,
# bounded/unbounded repetition, \d == [0-9], \b word boundary. No
# lookarounds, no backrefs (RE2 has neither).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"

# Redaction order matters: emails first (their local/domain parts can
# contain digit runs a later pattern could nibble), then dotted quads,
# then phone-shaped digit groups.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL, "<EMAIL>"),
    ("ipv4", PII_IPV4, "<IP>"),
    ("phone", PII_PHONE, "<PHONE>"),
]


def redact_pii(col: Column) -> Column:
    """Replace every email / IPv4 / phone-shaped span with a typed
    placeholder. Sequential regexp_replace expressions — row-local,
    whole-stage-codegen'd, zero shuffle. The pattern set is the
    cross-engine-safe subset (see module header); production pipelines
    extend PII_PATTERNS, keeping the ordering rule."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def count_pii(col: Column) -> list[Column]:
    """Per-category match counts `pii_<name>` for audit dashboards —
    counted on the SAME sequentially-redacted intermediate text the
    redaction pass sees, so counts and redactions always agree (an
    email's digit runs can otherwise double-count as phone/IP)."""
    cols = []
    cur = col
    for name, pat, repl in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pat)).alias(f"pii_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return cols


def pack_budget_bins(
    docs: DataFrame,
    part_col: str,
    order_col: str,
    size_col: str,
    capacity: int,
) -> DataFrame:
    """Contiguous fixed-budget sequence packing: walking each
    partition in `order_col` order, a document is assigned to
    bin = floor(prefix_sum_before_it / capacity).

    This is the *streaming* packing rule (documents are never split or
    reordered; a document straddling a budget boundary overflows its
    bin by at most one document), chosen over first-fit-decreasing
    because FFD is inherently sequential-with-lookback — its bin state
    depends on every prior placement, which neither distributes nor
    oracle-checks — while the prefix-sum rule is a pure function of
    the cumulative sum, so it is embarrassingly parallel after ONE
    prefix-sum pass and reproduces identically under retries. Utilization
    loss vs FFD is bounded by one document per bin. Oversized documents
    (size > capacity) own their span; later bin ids simply skip ahead.

    One window shuffle on `part_col`. At 100 TB with a single giant
    partition, swap the window for the two-pass range-partitioned
    prefix sum of temporal.dense_global_ids — bin assignment
    is the same pure function of the prefix sum.

    Returns the input columns + `bin_id` (0-based per partition) and
    `cum_tokens` (inclusive prefix sum).
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(size_col).over(w)
    return docs.withColumn("cum_tokens", cum).withColumn(
        "bin_id", F.floor((F.col("cum_tokens") - F.col(size_col)) / F.lit(capacity))
    )


AES_PRIORITY_SCALE = 1e12


def _aes_priority_quantized(id_col: str, weight_col: str) -> Column:
    """floor(-ln(u)/w · 1e12 + 0.5) as bigint, u = md5-uniform of the
    id — the A-ES key quantized BEFORE ranking so Spark and DuckDB
    order identical integers (no raw libm doubles in the sort key).
    Range check: w ≥ 1 (the weights here are char counts) and
    u_min = 0.5/2^32 give -ln(u) ≤ 33·ln 2 ≈ 22.9, so the scaled key
    ≤ ~2.3e13 ≪ 2^53 — the double holds it exactly and floor is
    deterministic.

    Domain note: A-ES ranking is weight-SCALE-invariant (scaling every
    w by c scales every priority by 1/c, preserving order), so callers
    with tiny weights (w ≪ 1e-5 would overflow the bigint key)
    normalize them up first — the sample distribution is unchanged."""
    h = shingle_int_value(F.col(id_col).cast("string"))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    p = -F.log(u) / F.col(weight_col).cast("double")
    return F.floor(p * F.lit(AES_PRIORITY_SCALE) + F.lit(0.5)).cast("bigint")


def weighted_sample_aes(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sample without replacement, k rows, P(select) ∝ weight:
    Efraimidis & Spirakis (2006) A-ES keys with deterministic
    md5-derived uniforms. Each row gets u = (h + 0.5)/2³² from the
    md5 of its id (never exactly 0 or 1) and priority = -ln(u)/w; the
    k smallest priorities are the sample. Equivalent to the classic
    u^(1/w) max-key formulation, but in log space so the key stays
    well-conditioned for large weights.

    Scan + TakeOrderedAndProject: the priority is row-local, the only
    movement is the k·partitions top-k merge. Deterministic across
    retries/layout (no RNG state); ln is the one transcendental, so
    (r4 advice) the ranking key is the QUANTIZED priority
    floor(p·1e12 + 0.5) as bigint — both engines then rank on
    identical integers, and a 1-ulp libm difference can flip a rank
    only in the measure-zero case where p sits within ulp·1e12 of a
    quantum boundary AND the engines' ln disagree on that row, rather
    than whenever two keys land within a ulp of each other.

    Adds `priority_rank` (1-based). Rows with weight ≤ 0 are EXCLUDED
    (P ∝ w = 0 means never selected; and Spark's non-ANSI x/0.0 yields
    NULL, which would silently sort FIRST under the ascending order —
    the filter turns that trap into the mathematically correct
    behavior)."""
    priority = _aes_priority_quantized(id_col, weight_col)
    ranked = (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__priority", priority)
        .orderBy(F.asc("__priority"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.asc("__priority"), F.asc(id_col))
    # the global window runs on the k-row limited result, not the corpus
    return ranked.withColumn("priority_rank", F.row_number().over(w)).drop(
        "__priority"
    )


def weighted_sample_aes_per_group(
    df: DataFrame, group_cols: list[str], id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Per-group weighted sample without replacement: the A-ES
    priority of weighted_sample_aes ranked WITHIN each group — k rows
    per group, P(select | group) ∝ weight. The per-language
    quality-weighted draw (balanced mixture with quality bias) a
    curation pipeline runs instead of the global draw. One window
    shuffle partitioned by the group cols (bounded-cardinality strata,
    same shape as sampling.stratified_sample); rows with weight ≤ 0
    excluded as in the global variant. Adds `priority_rank`
    (1-based within group). Ranks on the QUANTIZED priority (see
    weighted_sample_aes) — small strata make rank stability matter
    even more here."""
    priority = _aes_priority_quantized(id_col, weight_col)
    w = Window.partitionBy(*group_cols).orderBy(F.asc("__priority"), F.asc(id_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__priority", priority)
        .withColumn("priority_rank", F.row_number().over(w))
        .filter(F.col("priority_rank") <= k)
        .drop("__priority")
    )


def upsert(base: DataFrame, delta: DataFrame, key_cols: list[str]) -> DataFrame:
    """Last-writer-wins merge: every key in `delta` replaces its row in
    `base`; unmatched base rows pass through. The relational core of
    MERGE INTO (Delta/Iceberg) as a plain anti-join + union — ONE
    shuffle on the key; zero-shuffle when both sides are bucketed by
    the key. Columns must match by name."""
    survivors = base.join(delta.select(*key_cols), key_cols, "left_anti")
    return delta.unionByName(survivors)


def remove_boilerplate_lines(
    docs: DataFrame, id_col: str, text_col: str, max_df: int
) -> DataFrame:
    """Line-level boilerplate removal (the CCNet/RefinedWeb pass):
    split each document into lines, count each distinct line's
    document frequency corpus-wide, drop lines appearing in more than
    `max_df` documents (cookie banners, nav menus, license footers),
    and reassemble the survivors in original order. Returns
    (id, text, n_lines_kept, n_lines_dropped). NULL-text documents
    yield no rows (posexplode of a null array) and drop out, like
    every split/shingle operator in this engine; empty-string
    documents survive as one empty line.

    Empty-result contract (pinned per r4 advice): a document whose
    EVERY line is dropped comes back with text = NULL (not ''),
    matching the DuckDB oracle idiom `string_agg(...) FILTER` — which
    yields NULL over an empty group — so a checksum over `text` can
    never silently diverge between engines. `text IS NULL ⟺
    n_lines_kept = 0`.

    Shape: one explode + a groupBy on the line VALUE (map-side
    combined; shuffle volume = distinct lines) + one groupBy back on
    the doc id. The df table is usually tiny relative to the corpus —
    at 100 TB, persist it like the posting tables and broadcast the
    over-threshold lines (the boilerplate set is small by definition;
    the long tail of unique lines never needs to move)."""
    parts = F.split(F.col(text_col), "\n")
    lines = docs.select(
        F.col(id_col), F.posexplode(parts).alias("pos", "line")
    )
    df_counts = lines.groupBy("line").agg(
        F.count_distinct(id_col).alias("line_df")
    )
    kept = lines.join(df_counts, "line").withColumn(
        "__keep", F.col("line_df") <= F.lit(max_df)
    )
    agged = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("pos"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("__text_joined"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_lines_dropped"),
    )
    return agged.select(
        id_col,
        # all-lines-dropped → NULL, the string_agg-FILTER contract
        F.when(F.col("n_lines_kept") > 0, F.col("__text_joined")).alias("text"),
        "n_lines_kept",
        "n_lines_dropped",
    )


def chunk_documents(
    docs: DataFrame, id_col: str, text_col: str, chunk_size: int, overlap: int
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap
    (training/RAG windowing): chunk starts walk the text at stride
    chunk_size − overlap, each chunk is `chunk_size` chars (the last
    one shorter). Returns (id, chunk_idx, chunk) — row-local explode,
    zero shuffle, composes with pack_budget_bins downstream. Chunk
    count per doc = ceil((len − overlap) / stride), so data volume
    grows by len/(len − overlap·chunks) ≈ 1/(1 − overlap/chunk_size)."""
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    stride = chunk_size - overlap
    s = F.col(text_col)
    # empty/null docs yield no chunks — and the length filter is load-
    # bearing: sequence(1, 0, stride) THROWS (illegal boundaries), it
    # does not return empty (same hazard as functions/text.word_ngrams)
    return docs.filter(F.length(s) >= 1).select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.length(s), F.lit(stride))).alias("__start"),
        s.alias("__s"),
    ).select(
        F.col(id_col),
        ((F.col("__start") - 1) / F.lit(stride)).cast("bigint").alias("chunk_idx"),
        F.col("__s").substr(F.col("__start"), F.lit(chunk_size)).alias("chunk"),
    )


def mixture_interleave(
    df: DataFrame,
    class_col: str,
    strides: dict[str, int],
    order_col: str,
    n: int,
) -> DataFrame:
    """Deterministic multi-source mixture schedule (stride scheduling):
    rows of class c are emitted at virtual times rank·stride_c, so a
    class with stride s contributes ∝ 1/s of any schedule prefix —
    pass strides as LCM/weight to hit target mixing ratios exactly.
    Returns the first `n` rows of the schedule with `vt` (virtual
    time) and `class_rank`; total order (vt, class, rank) — pure
    integer arithmetic, bit-exact in any engine.

    One window shuffle (rank within class; classes are the bounded
    mixture components) + a TakeOrderedAndProject(n) merge. Classes
    missing from `strides` are excluded — the mixture definition is
    the `strides` dict."""
    wc = Window.partitionBy(class_col).orderBy(order_col)
    stride_expr = F.create_map(
        *[F.lit(x) for kv in strides.items() for x in kv]
    )[F.col(class_col)]
    return (
        df.filter(F.col(class_col).isin(list(strides)))
        .withColumn("class_rank", F.row_number().over(wc))
        .withColumn("vt", F.col("class_rank").cast("bigint") * stride_expr.cast("bigint"))
        .orderBy("vt", class_col, "class_rank")
        .limit(n)
    )


QUALITY_BIN_SCALE = 10_000


def quality_quantile_filter(
    docs: DataFrame,
    id_col: str,
    score_col: str,
    group_col: str,
    keep_frac: float,
    bin_scale: int = QUALITY_BIN_SCALE,
) -> DataFrame:
    """Per-group quality-threshold filter — 'keep the top `keep_frac`
    of documents per language by quality score' (the FineWeb/Gopher
    curation step that follows scoring; the reference serves an
    already-curated corpus — /root/reference/data_extraction/clip/
    clip.ipynb cell 7 ingests whatever survived offline curation —
    this operator IS that offline step) — computed WITHOUT a
    corpus-wide window, because the group key is a language and
    language keys are maximally skewed (one hot 'en' partition would
    serialize a rank()-based cut).

    Shape: the score is quantized to an integer bin (floor(s·scale +
    0.5) — the det_round integer trick, so both engines bin
    identically), a (group, bin) histogram is aggregated with map-side
    partial combine, the per-group threshold bin is elected on the
    HISTOGRAM (cumulative count from the top bin down; the highest bin
    whose cumulative count reaches ⌈frac·n⌉ — boundary-bin ties are
    KEPT, so the kept count may exceed the target by at most one bin's
    population), and the corpus is filtered through a broadcast join
    against the |groups|-row threshold table. Cost at 100 TB: one
    scan + partial agg (histogram ≤ |groups|·scale rows), a window
    over that tiny table, one broadcast-hash filter pass. A hot group
    adds rows to ONE histogram cell, not one shuffle partition.

    Returns the SURVIVORS: (id, group, qbin, min_qbin)."""
    qbin = F.floor(
        F.col(score_col) * F.lit(float(bin_scale)) + F.lit(0.5)
    ).cast("bigint")
    binned = docs.select(
        F.col(id_col), F.col(group_col), qbin.alias("qbin")
    )
    hist = binned.groupBy(group_col, "qbin").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy(group_col).orderBy(F.desc("qbin"))
    w_all = Window.partitionBy(group_col)
    thr = (
        hist.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_all))
        .withColumn("k", F.ceil(F.lit(keep_frac) * F.col("n")).cast("bigint"))
        .filter(F.col("cum") >= F.col("k"))
        .groupBy(group_col)
        .agg(F.max("qbin").alias("min_qbin"))
    )
    return binned.join(F.broadcast(thr), group_col).filter(
        F.col("qbin") >= F.col("min_qbin")
    )


N_SHARDS = 8


def assign_shards(
    docs: DataFrame, id_col: str, n_shards: int = N_SHARDS
) -> DataFrame:
    """Deterministic training-shard assignment (the reference's
    deterministic id→path enumeration —
    /root/reference/utils/faiss_processing.py:44-57 — scaled from one
    sorted dict to hashed shards) — the 'global shuffle +
    shard' export step every tokenizer-bound pipeline ends with: shard
    = md5-derived-uint32(id) mod n_shards, and a row-local
    `sort_key` (the same md5 integer) whose within-shard ascending
    order IS the reproducible shuffle order. Both are pure functions
    of the id, so the export is identical across retries, cluster
    sizes, and input partitionings — the property that makes training
    runs reproducible from the manifest alone.

    At scale the writer runs `repartition(n_shards, shard)
    .sortWithinPartitions(sort_key).write.partitionBy(shard)`: one
    shuffle, file layout = shard layout. The md5 key equidistributes
    ids, so shards are balanced regardless of id clustering; a hot
    document id does not exist (ids are unique)."""
    h = shingle_int_value(F.concat(F.lit("shard|"), F.col(id_col).cast("string")))
    return docs.withColumn("shard", (h % F.lit(n_shards)).cast("int")).withColumn(
        "sort_key", h
    )
