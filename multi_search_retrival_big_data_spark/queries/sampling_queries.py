"""Oracle-checked sampling / sketch / corpus-statistics queries —
the reproducible-subset and cardinality tooling a training-data
pipeline runs constantly (eval splits, per-language caps, vocabulary
stats). All md5-keyed and therefore bit-identical between the Spark
plan and the DuckDB oracle (see operators/sampling.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions import text as T
from multi_search_retrival_big_data_spark.operators import sampling
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import det_round, sql_det_round

# ~10% of the 128-bit md5 space as a 32-char lowercase hex literal
SAMPLE_THRESHOLD_HEX = "1" + "9" * 31
STRATUM_N = 40
KMV_K = 256
HH_K = 30


def _sql_v(expr: str) -> str:
    """32-bit integer view of md5(expr) — the SQL spelling of
    dedup.shingle_int_value, digit-decoded positionally."""
    return " + ".join(
        f"(instr('0123456789abcdef', substring(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )


@query(
    "sample_hash_threshold",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '{SAMPLE_THRESHOLD_HEX}'
    ORDER BY doc_id
    """,
)
def sample_hash_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample keyed on md5(doc_id) — the
    reproducible eval-split draw. Row-local filter, zero shuffles; the
    same rows are selected on any cluster layout or retry (unlike
    df.sample(), whose output is partitioning-dependent)."""
    docs = tables.load(spark, "documents", sf_dir)
    return (
        sampling.hash_sample(docs, "doc_id", SAMPLE_THRESHOLD_HEX)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "sample_stratified_per_lang",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    )
    SELECT doc_id, lang, sample_rank
    FROM ranked WHERE sample_rank <= {STRATUM_N}
    ORDER BY lang, sample_rank
    """,
)
def sample_stratified_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-language sample (the hash-smallest N of each
    stratum) — the per-language cap / balanced eval draw. One shuffle
    partitioned by `lang`; strata count is bounded (5 languages), so
    the per-stratum sort is task-local. For giant strata, pre-filter
    with hash_sample at an oversampling factor and rank survivors —
    same result, bounded task input."""
    docs = tables.load(spark, "documents", sf_dir)
    out = sampling.stratified_sample(docs, ["lang"], "doc_id", STRATUM_N)
    return out.select("doc_id", "lang", "sample_rank").orderBy("lang", "sample_rank")


@query(
    "sketch_kmv_distinct_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT regexp_extract_all(lower(text), '\\w+') AS t FROM documents
    ),
    tok AS (SELECT DISTINCT unnest(t) AS token FROM toks),
    v AS (SELECT DISTINCT {_sql_v("token")} AS v FROM tok),
    small AS (SELECT v FROM v ORDER BY v LIMIT {KMV_K}),
    kagg AS (SELECT count(*) AS k_min, max(v) AS kth_hash FROM small),
    est AS (
      SELECT k_min, kth_hash,
             CASE WHEN k_min < {KMV_K} OR kth_hash <= 0
                  THEN CAST(k_min AS DOUBLE)
                  ELSE (k_min - 1) * 4294967296.0 / kth_hash
             END AS est
      FROM kagg
    ),
    ex AS (SELECT count(*) AS exact_distinct FROM tok)
    SELECT k_min, kth_hash,
           {sql_det_round("est")} AS est_distinct,
           exact_distinct,
           {sql_det_round("abs(est - exact_distinct) / exact_distinct")} AS rel_error
    FROM est, ex
    ORDER BY k_min
    """,
)
def sketch_kmv_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-token estimate vs the exact
    count — ONE row (k_min, kth_hash, est_distinct, exact_distinct,
    rel_error). The sketch side moves only k·partitions hash values
    (TakeOrdered merge over a map-side-combined distinct); the exact
    side is the audit, same role as ann_recall_at_k for ANN. At 100 TB
    the exact branch is dropped and the sketch stands alone; the
    estimator and its audit are both deterministic (md5), so the
    measured rel_error is reproducible."""
    docs = tables.load(spark, "documents", sf_dir)
    toks = docs.select(F.explode(T.tokenize(F.col("text"))).alias("token"))
    sketch = sampling.kmv_distinct(toks, "token", KMV_K)
    exact = toks.select("token").distinct().agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = F.col("est_distinct_raw")
    return (
        sketch.select(
            "k_min", "kth_hash", F.col("est_distinct").alias("est_distinct_raw")
        )
        .crossJoin(F.broadcast(exact))  # 1-row × 1-row scalar combine
        .select(
            "k_min",
            "kth_hash",
            det_round(est).alias("est_distinct"),
            "exact_distinct",
            det_round(
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double")
            ).alias("rel_error"),
        )
        .orderBy("k_min")
    )


QUANT_W = 32
QUANT_PS = [0.5, 0.9, 0.99]


@query(
    "sketch_binned_quantiles",
    oracle=f"""
    WITH bins AS (
      SELECT CAST(FLOOR(n_chars / {QUANT_W}.0) AS BIGINT) AS bin, count(*) AS n
      FROM documents GROUP BY 1
    ),
    cums AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM bins
    ),
    tot AS (SELECT count(*) AS N FROM documents),
    ps AS (SELECT unnest([{", ".join(repr(p) for p in QUANT_PS)}]) AS p),
    tgt AS (SELECT p, p * N AS t FROM ps, tot),
    hit AS (
      SELECT tgt.p, tgt.t, c.bin, c.n, c.cum,
             row_number() OVER (PARTITION BY tgt.p ORDER BY c.bin) AS rn
      FROM tgt JOIN cums c ON c.cum >= tgt.t
    ),
    est AS (
      SELECT p, bin * {QUANT_W} + (t - (cum - n)) / n * {QUANT_W} AS est
      FROM hit WHERE rn = 1
    ),
    exq AS (
      SELECT quantile_cont(n_chars, [{", ".join(repr(p) for p in QUANT_PS)}]) AS q
      FROM documents
    ),
    exact AS (
      SELECT unnest([{", ".join(repr(p) for p in QUANT_PS)}]) AS p,
             unnest(q) AS exact FROM exq
    )
    SELECT est.p, {sql_det_round("est")} AS est_quantile,
           {sql_det_round("exact")} AS exact_quantile,
           {sql_det_round("abs(est - exact)")} AS abs_error
    FROM est JOIN exact ON est.p = exact.p
    ORDER BY est.p
    """,
)
def sketch_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile sketch vs the exact type-7
    quantile — one row per p with the estimate, the exact value, and
    the absolute error (bounded by the bin width). The sketch side
    shuffles only the BIN COUNT; the exact side (Spark `percentile`,
    DuckDB `quantile_cont` — same (N−1)p interpolation) is the audit
    that is dropped at 100 TB, exactly like sketch_kmv_distinct_tokens'
    exact branch. Deterministic: order-independent histogram counts,
    IEEE-exact interpolation — unlike approx_percentile/t-digest,
    whose merge order changes the answer across layouts."""
    docs = tables.load(spark, "documents", sf_dir)
    est = sampling.binned_quantiles(docs, "n_chars", QUANT_W, QUANT_PS)
    exact = (
        docs.agg(
            F.percentile(
                F.col("n_chars"), F.array(*[F.lit(p) for p in QUANT_PS])
            ).alias("q")
        )
        .select(
            F.posexplode("q").alias("pos", "exact")
        )
        .select(
            F.element_at(
                F.array(*[F.lit(float(p)) for p in QUANT_PS]), F.col("pos") + 1
            ).alias("p"),
            "exact",
        )
    )
    return (
        est.join(exact, "p")
        .select(
            "p",
            det_round(F.col("est")).alias("est_quantile"),
            det_round(F.col("exact")).alias("exact_quantile"),
            det_round(F.abs(F.col("est") - F.col("exact"))).alias("abs_error"),
        )
        .orderBy("p")
    )


@query(
    "heavy_hitters_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents
    ),
    tok AS (SELECT DISTINCT doc_id, unnest(t) AS token FROM toks)
    SELECT token, count(*) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY doc_freq DESC, token
    LIMIT {HH_K}
    """,
)
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 tokens by document frequency — the vocabulary head a
    tokenizer/stopword audit reads first. Per-doc dedup happens
    BEFORE the explode (array_distinct on the token array), the count
    aggregates map-side, and the top-k is TakeOrderedAndProject —
    k·partitions rows move, no global sort."""
    docs = tables.load(spark, "documents", sf_dir)
    per_doc = docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.tokenize(F.col("text")))).alias("token"),
    )
    return sampling.heavy_hitters(per_doc, "token", HH_K).select(
        "token", F.col("freq").alias("doc_freq")
    )


@query(
    "profile_cube_lang_source",
    oracle="""
    SELECT lang, source, count(*) AS n
    FROM documents
    GROUP BY CUBE (lang, source)
    ORDER BY lang NULLS FIRST, source NULLS FIRST
    """,
)
def profile_cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (lang, source): all four grouping sets in one pass
    (Spark's Expand operator emits each input row once per grouping
    set, partial-aggregated map-side) — completes the ROLLUP/pivot
    profiling family."""
    docs = tables.load(spark, "documents", sf_dir)
    return (
        docs.cube("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("lang"), F.asc_nulls_first("source"))
    )


@query(
    "events_rank_percentiles",
    oracle="""
    SELECT event_id, event_type,
           row_number()   OVER w AS rn,
           ntile(4)       OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    ORDER BY event_type, rn
    """,
)
def events_rank_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-rank family over event values: row_number / ntile /
    percent_rank / cume_dist per event_type, (value, event_id)-ordered
    so every rank is total-order deterministic. percent_rank and
    cume_dist are int/int divisions — bit-exact in both engines, no
    quantization needed. NOTE the partition key has tiny cardinality
    (5 event types): at 100 TB a per-type global rank needs the
    range-partition + offset two-pass used by
    temporal.dense_global_ids, not a 5-task window — this
    query models the bounded-partition case (per-tenant, per-day)."""
    ev = tables.load(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("event_type", "rn")
    )


@query(
    "profile_corr_chars_tokens",
    oracle=rf"""
    WITH xy AS (
      SELECT lang,
             n_chars AS x,
             len(regexp_extract_all(lower(text), '\w+')) AS y
      FROM documents
    ),
    s AS (
      SELECT lang, count(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM xy GROUP BY lang
    )
    SELECT lang, n AS n_docs,
           {sql_det_round(
               "CAST(n * sxy - sx * sy AS DOUBLE)"
               " / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
               "    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))", 9)} AS corr_chars_tokens
    FROM s
    ORDER BY lang
    """,
)
def profile_corr_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation of document length vs token
    count — the profiling statistic that validates token-count
    estimators per language. Computed from INTEGER moment sums
    (n, Σx, Σy, Σxy, Σx², Σy² — all exact, map-side combined), so
    unlike the built-in corr() aggregate (float accumulation,
    order-dependent) the value is bit-identical across engines: the
    only float ops are two correctly-rounded sqrts, one multiply and
    one divide on exactly-represented integers."""
    docs = tables.load(spark, "documents", sf_dir)
    x = F.col("n_chars")
    y = F.size(T.tokenize(F.col("text")))
    xy = docs.select("lang", x.alias("x"), y.alias("y"))
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = F.sqrt((n * F.col("sxx") - sx * sx).cast("double")) * F.sqrt(
        (n * F.col("syy") - sy * sy).cast("double")
    )
    return (
        s.select(
            "lang",
            n.alias("n_docs"),
            det_round(num / den, 9).alias("corr_chars_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "events_top3_per_user",
    oracle="""
    SELECT user_id, event_id, value, rn
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 3
    ORDER BY user_id, rn
    """,
)
def events_top3_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (top-3 events per user by value) — the group
    variant of the engine's most-used primitive. Spark compiles the
    rank filter to a WindowGroupLimit PAIR: a Partial node prunes each
    map partition to its per-group top-3 BEFORE the shuffle, the Final
    node prunes after — so shuffle volume is O(groups·k·partitions),
    not O(rows), the per-group analogue of TakeOrderedAndProject
    (asserted by tools/audit_plans.py WINDOW_GROUP_LIMIT_EXPECTED)."""
    from pyspark.sql.window import Window

    ev = tables.load(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.select("user_id", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("user_id", "rn")
    )
