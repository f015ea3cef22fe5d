"""Oracle-checked corpus-curation queries (operators/curation.py):
PII redaction, sequence packing, weighted sampling, incremental
upsert, and mixture interleaving — the corpus-editing layer a 100 TB
training pipeline runs between crawl and tokenizer.

Cross-engine determinism: the PII patterns are the Java-regex/RE2
common subset; the synthetic PII is planted in-plan as a pure function
of doc_id (the driver testdata carries none — both engines augment
identically, so the redaction path is value-checked end to end);
packing/interleave are integer arithmetic; the weighted-sample
priority uses md5-derived uniforms (see weighted_sample_aes notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions import text as T
from multi_search_retrival_big_data_spark.operators import curation
from multi_search_retrival_big_data_spark.operators.dedup import shingle_int_value
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import det_round, sql_det_round

PACK_CAPACITY = 256  # tokens per bin
SAMPLE_K = 60
MIX_N = 120
# target en:fr:zh = 3:2:1 → strides LCM(·)/w
MIX_STRIDES = {"en": 2, "fr": 3, "zh": 6}


def _sql_v(expr: str) -> str:
    """SQL spelling of dedup.shingle_int_value(expr)."""
    return " + ".join(
        f"(instr('0123456789abcdef', substring(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )


# ---------------------------------------------------------------- PII

# planted PII, a pure function of doc_id — both engines build the same
# augmented text, so redaction + counting is value-checked end to end
_AUG_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.0.' || CAST(doc_id % 200 AS VARCHAR)"
    " || ' call 555-867-' || CAST(1000 + doc_id % 9000 AS VARCHAR)"
)


def _aug_spark() -> F.Column:
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail.example.com from 10."),
        (d % 256).cast("string"),
        F.lit(".0."),
        (d % 200).cast("string"),
        F.lit(" call 555-867-"),
        (F.lit(1000) + d % 9000).cast("string"),
    )


def _pii_oracle() -> str:
    email, ipv4, phone = (p for _, p, _ in curation.PII_PATTERNS)
    return f"""
    WITH aug AS (
      SELECT doc_id, lang, {_AUG_SQL} AS aug FROM documents
    ),
    staged AS (
      SELECT lang,
             len(regexp_extract_all(aug, '{email}')) AS c_email,
             regexp_replace(aug, '{email}', '<EMAIL>', 'g') AS s1
      FROM aug
    ),
    staged2 AS (
      SELECT lang, c_email,
             len(regexp_extract_all(s1, '{ipv4}')) AS c_ipv4,
             regexp_replace(s1, '{ipv4}', '<IP>', 'g') AS s2
      FROM staged
    ),
    final AS (
      SELECT lang, c_email, c_ipv4,
             len(regexp_extract_all(s2, '{phone}')) AS c_phone,
             regexp_replace(s2, '{phone}', '<PHONE>', 'g') AS red
      FROM staged2
    )
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(c_email) AS BIGINT) AS n_email,
           CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4,
           CAST(SUM(c_phone) AS BIGINT) AS n_phone,
           CAST(SUM({_sql_v("red")}) AS BIGINT) AS redacted_checksum
    FROM final
    GROUP BY lang
    ORDER BY lang
    """


@query("curation_pii_redaction", oracle=_pii_oracle())
def curation_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: plant doc_id-derived email/IP/phone
    spans in-plan (the synthetic corpus carries none), redact with the
    sequential pattern chain, and prove the full path with per-lang
    category counts plus an md5 checksum of every redacted byte. All
    row-local regexp expressions in whole-stage codegen — the only
    shuffle is the final 5-group aggregate."""
    docs = tables.load(spark, "documents", sf_dir)
    aug = docs.select("doc_id", "lang", _aug_spark().alias("aug"))
    redacted = aug.select(
        "lang",
        *curation.count_pii(F.col("aug")),
        shingle_int_value(curation.redact_pii(F.col("aug"))).alias("v"),
    )
    return (
        redacted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pii_email").cast("bigint").alias("n_email"),
            F.sum("pii_ipv4").cast("bigint").alias("n_ipv4"),
            F.sum("pii_phone").cast("bigint").alias("n_phone"),
            F.sum("v").cast("bigint").alias("redacted_checksum"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------------ packing


@query(
    "curation_pack_bins",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(lower(text), '\\w+')) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT lang, doc_id, n_tok,
             SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
             ) AS cum_tokens
      FROM sized
    ),
    binned AS (
      SELECT lang, n_tok,
             CAST(FLOOR((cum_tokens - n_tok) / {PACK_CAPACITY}) AS BIGINT) AS bin_id
      FROM cum
    )
    SELECT lang, bin_id, count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
           {sql_det_round(f"SUM(n_tok) / {PACK_CAPACITY}.0")} AS utilization
    FROM binned
    GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """,
)
def curation_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: documents packed in doc_id order
    into {PACK_CAPACITY}-token budget bins per language (streaming
    prefix-sum rule — see pack_budget_bins for why not first-fit).
    Output = per-bin manifest (doc count, token fill, utilization) the
    tokenizer shards on. One window shuffle (the prefix sum) + one
    aggregate."""
    docs = tables.load(spark, "documents", sf_dir)
    sized = docs.select(
        "doc_id", "lang", F.size(T.tokenize(F.col("text"))).alias("n_tok")
    )
    packed = curation.pack_budget_bins(
        sized, "lang", "doc_id", "n_tok", PACK_CAPACITY
    )
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
            det_round(F.sum("n_tok") / F.lit(float(PACK_CAPACITY))).alias(
                "utilization"
            ),
        )
        .orderBy("lang", "bin_id")
    )


# ----------------------------------------------------------- sampling


@query(
    "curation_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(floor(-ln((({_sql_v("CAST(doc_id AS VARCHAR)")}) + 0.5) / 4294967296.0)
               / n_chars * 1e12 + 0.5) AS BIGINT) AS p
      FROM documents
    ),
    top AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (ORDER BY p, doc_id) AS priority_rank
      FROM keyed
      ORDER BY p, doc_id
      LIMIT {SAMPLE_K}
    )
    SELECT doc_id, lang, n_chars, priority_rank
    FROM top
    ORDER BY doc_id
    """,
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sample without replacement (Efraimidis-Spirakis
    A-ES, weight = n_chars): longer documents are proportionally more
    likely, yet the draw is a pure function of doc_id — reproducible on
    any cluster layout, retry, or engine. Scan +
    TakeOrderedAndProject({SAMPLE_K}); no shuffle."""
    docs = tables.load(spark, "documents", sf_dir)
    out = curation.weighted_sample_aes(docs, "doc_id", "n_chars", SAMPLE_K)
    return out.select("doc_id", "lang", "n_chars", "priority_rank").orderBy("doc_id")


GROUP_SAMPLE_K = 12


@query(
    "curation_weighted_sample_per_lang",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(floor(-ln((({_sql_v("CAST(doc_id AS VARCHAR)")}) + 0.5) / 4294967296.0)
               / n_chars * 1e12 + 0.5) AS BIGINT) AS p
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY p, doc_id)
               AS priority_rank
      FROM keyed
    )
    SELECT doc_id, lang, n_chars, priority_rank
    FROM ranked WHERE priority_rank <= {GROUP_SAMPLE_K}
    ORDER BY lang, priority_rank
    """,
)
def curation_weighted_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-weighted draw: {GROUP_SAMPLE_K} docs per
    lang with P ∝ n_chars inside each stratum — the balanced-mixture
    companion to the global curation_weighted_sample (same A-ES
    priorities, ranked within groups; one bounded-strata window
    shuffle)."""
    docs = tables.load(spark, "documents", sf_dir)
    out = curation.weighted_sample_aes_per_group(
        docs, ["lang"], "doc_id", "n_chars", GROUP_SAMPLE_K
    )
    return out.select("doc_id", "lang", "n_chars", "priority_rank").orderBy(
        "lang", "priority_rank"
    )


# ------------------------------------------------------------- upsert


@query(
    "corpus_upsert_merge",
    oracle=f"""
    WITH delta AS (
      SELECT doc_id, 'rev: ' || text AS text, lang, 'v2' AS version
      FROM documents WHERE doc_id % 3 = 0
    ),
    base AS (
      SELECT doc_id, text, lang, 'v1' AS version FROM documents
    ),
    merged AS (
      SELECT * FROM delta
      UNION ALL
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.doc_id = b.doc_id)
    )
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(CASE WHEN version = 'v2' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updated,
           CAST(SUM({_sql_v("text")}) AS BIGINT) AS text_checksum
    FROM merged
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh: a delta batch (every 3rd document,
    revised text) merged over the base with last-writer-wins — the
    MERGE INTO core as anti-join + union (curation.upsert). The
    checksum proves exactly the delta rows changed and every other
    byte survived. One key shuffle; zero-shuffle when both sides are
    bucketed by doc_id."""
    docs = tables.load(spark, "documents", sf_dir)
    base = docs.select("doc_id", "text", "lang", F.lit("v1").alias("version"))
    delta = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.concat(F.lit("rev: "), F.col("text")).alias("text"),
        "lang",
        F.lit("v2").alias("version"),
    )
    merged = curation.upsert(base, delta, ["doc_id"])
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("version") == "v2", 1).otherwise(0))
            .cast("bigint")
            .alias("n_updated"),
            F.sum(shingle_int_value(F.col("text"))).cast("bigint").alias(
                "text_checksum"
            ),
        )
        .orderBy("lang")
    )


# ------------------------------------------------- line-level dedupe

LINE_MAX_DF = 10
_BOILER = "accept cookies to continue -- all rights reserved"

# three lines per doc: the original text, a corpus-wide boilerplate
# line (df = n_docs, dropped), and a doc-unique marker (df = 1, kept)
_LINES_AUG_SQL = (
    f"text || chr(10) || '{_BOILER}' || chr(10) || 'doc marker ' "
    "|| CAST(doc_id AS VARCHAR)"
)


@query(
    "curation_line_boilerplate_removal",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, lang, {_LINES_AUG_SQL} AS aug FROM documents
    ),
    lines AS (
      SELECT doc_id, lang, CAST(t.i AS INT) AS pos,
             string_split(aug, chr(10))[CAST(t.i AS INT)] AS line
      FROM aug, unnest(range(1, len(string_split(aug, chr(10))) + 1)) AS t(i)
    ),
    dfc AS (
      SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line
    ),
    cleaned AS (
      SELECT l.doc_id, l.lang,
             string_agg(l.line, chr(10) ORDER BY l.pos)
               FILTER (WHERE d.line_df <= {LINE_MAX_DF}) AS text,
             SUM(CASE WHEN d.line_df <= {LINE_MAX_DF} THEN 1 ELSE 0 END)
               AS n_kept,
             SUM(CASE WHEN d.line_df <= {LINE_MAX_DF} THEN 0 ELSE 1 END)
               AS n_dropped
      FROM lines l JOIN dfc d USING (line)
      GROUP BY l.doc_id, l.lang
    )
    SELECT lang, count(*) AS n_docs,
           CAST(SUM(n_kept) AS BIGINT) AS lines_kept,
           CAST(SUM(n_dropped) AS BIGINT) AS lines_dropped,
           CAST(SUM({_sql_v("text")}) AS BIGINT) AS cleaned_checksum
    FROM cleaned
    GROUP BY lang
    ORDER BY lang
    """,
)
def curation_line_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal: a
    corpus-wide boilerplate line is planted into every document
    in-plan (plus a doc-unique marker line), lines with document
    frequency > {LINE_MAX_DF} are dropped, documents are reassembled
    in line order, and the per-lang checksum proves exactly the
    boilerplate vanished and every other byte survived. Shuffle
    volume = distinct lines (map-side combined), then one groupBy
    back on doc_id; at 100 TB the over-threshold line set is
    broadcast-sized by definition."""
    docs = tables.load(spark, "documents", sf_dir)
    aug = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit("\n" + _BOILER + "\ndoc marker "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    cleaned = curation.remove_boilerplate_lines(aug, "doc_id", "text", LINE_MAX_DF)
    return (
        cleaned.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines_kept").cast("bigint").alias("lines_kept"),
            F.sum("n_lines_dropped").cast("bigint").alias("lines_dropped"),
            F.sum(shingle_int_value(F.col("text"))).cast("bigint").alias(
                "cleaned_checksum"
            ),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------- chunking

CHUNK_SIZE = 200
CHUNK_OVERLAP = 50
_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


@query(
    "curation_chunk_documents",
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id,
             CAST((t.i - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
             substring(text, CAST(t.i AS INTEGER), {CHUNK_SIZE}) AS chunk
      FROM documents, unnest(range(1, length(text) + 1, {_STRIDE})) AS t(i)
    )
    SELECT doc_id, chunk_idx,
           CAST(length(chunk) AS INT) AS chunk_len,
           CAST({_sql_v("chunk")} AS BIGINT) AS chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def curation_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking ({CHUNK_SIZE}-char chunks,
    {CHUNK_OVERLAP} overlap) — the training/RAG windowing pass that
    feeds pack_budget_bins. Row-local explode, zero shuffle; every
    chunk carries its md5-derived hash so the full chunk CONTENT (not
    just counts) is value-checked."""
    docs = tables.load(spark, "documents", sf_dir)
    chunks = curation.chunk_documents(docs, "doc_id", "text", CHUNK_SIZE, CHUNK_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").alias("chunk_len"),
        shingle_int_value(F.col("chunk")).alias("chunk_hash"),
    ).orderBy("doc_id", "chunk_idx")


# ------------------------------------------------ end-to-end pipeline

PIPE_QUALITY_MIN = 0.5
PIPE_CAPACITY = 1000  # chars per packed bin


def _pipeline_oracle() -> str:
    from multi_search_retrival_big_data_spark.operators.textanalysis import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    ntok = r"len(regexp_extract_all(lower(text), '\w+'))"
    nt_nz = f"CAST(CASE WHEN {ntok} > 0 THEN {ntok} ELSE 1 END AS DOUBLE)"
    nc_nz = "CAST(CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS DOUBLE)"
    stop = (
        rf"len(list_filter(regexp_extract_all(lower(text), '\w+'), "
        rf"x -> list_contains([{en}], x))) / {nt_nz}"
    )
    punct = rf"length(regexp_replace(text, '[\w\s]', '', 'g')) / {nc_nz}"
    quality = (
        f"({stop} + (1.0 - {punct}) "
        f"+ CAST(least({ntok}, 100) AS DOUBLE) / 100.0) / 3.0"
    )
    return f"""
    WITH keep AS (
      SELECT doc_id, lang, text FROM documents
      WHERE {quality} >= {PIPE_QUALITY_MIN}
    ),
    hashed AS (
      SELECT *, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS h
      FROM keep
    ),
    canon AS (
      SELECT doc_id, lang, text FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY h) AS mn FROM hashed
      ) WHERE doc_id = mn
    ),
    chunks AS (
      SELECT doc_id, lang,
             CAST((t.i - 1) // {_STRIDE} AS BIGINT) AS chunk_idx,
             substring(text, CAST(t.i AS INTEGER), {CHUNK_SIZE}) AS chunk
      FROM canon, unnest(range(1, length(text) + 1, {_STRIDE})) AS t(i)
    ),
    sized AS (
      SELECT doc_id, lang, chunk,
             doc_id * 1000 + chunk_idx AS ord,
             length(chunk) AS clen
      FROM chunks
    ),
    cum AS (
      SELECT *, SUM(clen) OVER (
               PARTITION BY lang ORDER BY ord ROWS UNBOUNDED PRECEDING
             ) AS c
      FROM sized
    ),
    binned AS (
      SELECT lang, doc_id, chunk, clen,
             CAST(FLOOR((c - clen) / {PIPE_CAPACITY}) AS BIGINT) AS bin_id
      FROM cum
    )
    SELECT lang, bin_id, count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(SUM(clen) AS BIGINT) AS bin_chars,
           CAST(SUM({_sql_v("chunk")}) AS BIGINT) AS content_checksum
    FROM binned
    GROUP BY lang, bin_id
    ORDER BY lang, bin_id
    """


@query("pipeline_curation_end_to_end", oracle=_pipeline_oracle())
def pipeline_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain as ONE composed plan — the shape of a
    real pre-training data job: quality filter (composite rational
    score ≥ {PIPE_QUALITY_MIN}, textanalysis.quality_features) →
    exact-dedup keep-canonical (dedup.exact_dedup) → overlapping
    chunking (curation.chunk_documents) → budget packing
    (curation.pack_budget_bins) → per-bin manifest with a content
    checksum over every surviving chunk byte. Every stage is the
    already-oracle-proven operator; this query proves they COMPOSE
    value-exactly. Shuffle ledger: one hash-partition (dedup window),
    one prefix-sum window (packing), one final aggregate — the filter
    and chunking stages are row-local."""
    from multi_search_retrival_big_data_spark.operators import dedup as dd
    from multi_search_retrival_big_data_spark.operators import textanalysis as ta

    docs = tables.load(spark, "documents", sf_dir)
    qual = ta.quality_features(docs, "doc_id", "text").select("doc_id", "quality")
    keep = docs.join(
        qual.filter(F.col("quality") >= PIPE_QUALITY_MIN).select("doc_id"), "doc_id"
    )
    ded = dd.exact_dedup(keep, "doc_id", "text")
    canon = keep.join(
        ded.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id"),
        "doc_id",
    )
    chunks = curation.chunk_documents(
        canon, "doc_id", "text", CHUNK_SIZE, CHUNK_OVERLAP
    ).join(F.broadcast(docs.select("doc_id", "lang")), "doc_id")
    sized = chunks.select(
        "doc_id",
        "lang",
        "chunk",
        (F.col("doc_id") * 1000 + F.col("chunk_idx")).alias("ord"),
        F.length("chunk").alias("clen"),
    )
    packed = curation.pack_budget_bins(sized, "lang", "ord", "clen", PIPE_CAPACITY)
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("clen").cast("bigint").alias("bin_chars"),
            F.sum(shingle_int_value(F.col("chunk"))).cast("bigint").alias(
                "content_checksum"
            ),
        )
        .orderBy("lang", "bin_id")
    )


# ---------------------------------------------------------- mixtures


@query(
    "curation_mixture_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id)
               AS class_rank
      FROM documents
      WHERE lang IN ('en', 'fr', 'zh')
    ),
    sched AS (
      SELECT doc_id, lang, class_rank,
             class_rank * CASE lang WHEN 'en' THEN 2
                                    WHEN 'fr' THEN 3
                                    ELSE 6 END AS vt
      FROM ranked
    )
    SELECT doc_id, lang, class_rank, CAST(vt AS BIGINT) AS vt
    FROM sched
    ORDER BY vt, lang, class_rank
    LIMIT {MIX_N}
    """,
)
def curation_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture schedule: interleave en:fr:zh at 3:2:1 by
    stride scheduling (virtual time = rank · LCM/weight) — the first
    {MIX_N} scheduled documents, with the exact emission order carried
    by (vt, lang, class_rank). Pure integer arithmetic; one bounded
    window + a top-n merge."""
    docs = tables.load(spark, "documents", sf_dir)
    out = curation.mixture_interleave(docs, "lang", MIX_STRIDES, "doc_id", MIX_N)
    return out.select("doc_id", "lang", "class_rank", "vt")


KEEP_FRAC = 0.3


@query(
    "curation_quality_quantile_filter",
    oracle=None,  # set below — needs QUALITY_SQL from text_queries
)
def curation_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-quantile cut (curation.quality_quantile_filter):
    keep the top {KEEP_FRAC:.0%} of each language's documents by the
    composite quality score — elected on a quantized-score HISTOGRAM
    (floor(q·1e4+0.5) integer bins), never a corpus-wide rank window,
    so a ~100%-hot language key costs one histogram cell, not one
    serialized shuffle partition. The oracle recomputes the identical
    bins, cumulative election, and boundary-tie-keeping semantics in
    SQL (shared QUALITY_SQL expression with text_quality_scores, so
    scorer and filter cannot drift apart)."""
    from multi_search_retrival_big_data_spark.operators import textanalysis as ta

    docs = tables.load(spark, "documents", sf_dir)
    scored = ta.quality_features(docs, "doc_id", "text", keep_cols=("lang",))
    out = curation.quality_quantile_filter(
        scored, "doc_id", "quality", "lang", KEEP_FRAC
    )
    return out.select("doc_id", "lang", "qbin", "min_qbin").orderBy("doc_id")


def _quality_quantile_oracle() -> str:
    from multi_search_retrival_big_data_spark.queries.text_queries import QUALITY_SQL

    return f"""
    WITH q AS (
      SELECT doc_id, lang,
             CAST(FLOOR(({QUALITY_SQL}) * {curation.QUALITY_BIN_SCALE} + 0.5) AS BIGINT) AS qbin
      FROM documents
    ),
    hist AS (SELECT lang, qbin, count(*) AS c FROM q GROUP BY lang, qbin),
    cum AS (
      SELECT lang, qbin,
             sum(c) OVER (PARTITION BY lang ORDER BY qbin DESC) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist
    ),
    thr AS (
      SELECT lang, max(qbin) AS min_qbin
      FROM cum WHERE cum >= CAST(ceil(CAST({KEEP_FRAC} AS DOUBLE) * n) AS BIGINT)
      GROUP BY lang
    )
    SELECT q.doc_id, q.lang, q.qbin, t.min_qbin
    FROM q JOIN thr t USING (lang)
    WHERE q.qbin >= t.min_qbin
    ORDER BY q.doc_id
    """


@query(
    "curation_shard_manifest",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, n_chars,
             ({_sql_v("concat('shard|', CAST(doc_id AS VARCHAR))")}) AS h
      FROM documents
    ),
    s AS (SELECT doc_id, n_chars, h % {{n_shards}} AS shard, h AS sort_key FROM a),
    ranked AS (
      SELECT shard, doc_id, sort_key,
             row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id) AS rn
      FROM s
    )
    SELECT s.shard,
           count(*) AS n_docs,
           CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(s.sort_key) AS BIGINT) AS content_checksum,
           min(r.doc_id) AS head_doc_id
    FROM s JOIN (SELECT shard, doc_id FROM ranked WHERE rn = 1) r USING (shard)
    GROUP BY s.shard
    ORDER BY s.shard
    """.replace("{n_shards}", str(curation.N_SHARDS)),
)
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export manifest (curation.assign_shards): each
    document lands in shard = md5-uint32(doc_id) mod {curation.N_SHARDS}
    with a reproducible within-shard order key; the manifest row per
    shard carries doc count, byte volume, a content checksum (sum of
    the md5 order keys — order-insensitive, append-detecting), and the
    head document under the shard's sort order (pins the ORDER, not
    just the set). Production writes `repartition(n, shard)
    .sortWithinPartitions(sort_key).write.partitionBy(shard)` — one
    shuffle — and publishes exactly this table; a training run is
    reproducible from the manifest alone because every column is a
    pure function of the ids."""
    docs = tables.load(spark, "documents", sf_dir)
    s = curation.assign_shards(docs.select("doc_id", "n_chars"), "doc_id")
    heads = (
        s.groupBy("shard")
        .agg(F.min(F.struct(F.col("sort_key"), F.col("doc_id"))).alias("m"))
        .select("shard", F.col("m.doc_id").alias("head_doc_id"))
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("sort_key").cast("bigint").alias("content_checksum"),
        )
        .join(F.broadcast(heads), "shard")
        .select(
            "shard", "n_docs", "sum_chars", "content_checksum", "head_doc_id"
        )
        .orderBy("shard")
    )


# late-bind the quantile-filter oracle (QUALITY_SQL lives in
# text_queries; importing it at module top would be circular-prone and
# the registry reads oracles lazily)
from multi_search_retrival_big_data_spark.queries import REGISTRY as _REG  # noqa: E402

_REG["curation_quality_quantile_filter"].oracle = _quality_quantile_oracle()


# ---- quality-gate calibration grid -----------------------------------------

_QT_THRESHOLDS = [0.2, 0.4, 0.6, 0.8]


def _quality_threshold_grid_oracle() -> str:
    from multi_search_retrival_big_data_spark.queries.text_queries import QUALITY_SQL

    thr = ", ".join(repr(float(t)) for t in _QT_THRESHOLDS)
    return f"""
    WITH q AS (SELECT doc_id, ({QUALITY_SQL}) AS quality FROM documents),
    thr AS (SELECT unnest([{thr}]) AS threshold),
    n AS (SELECT count(*) AS total FROM documents)
    SELECT t.threshold,
           CAST(SUM(CASE WHEN q.quality >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           n.total,
           CAST(SUM(CASE WHEN q.quality >= t.threshold THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(n.total AS DOUBLE) AS kept_frac
    FROM q CROSS JOIN thr t CROSS JOIN n
    GROUP BY t.threshold, n.total
    ORDER BY t.threshold
    """


@query("curation_quality_threshold_grid", oracle=None)
def curation_quality_threshold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the quality gate: kept count/fraction at
    each candidate threshold — the sweep a pipeline owner reads before
    setting PIPE_QUALITY_MIN (the recall-grid treatment applied to the
    curation knob; quality values are the same engine-exact rational
    arithmetic text_quality_scores proves). One corpus pass fans out
    across the 4-row threshold dim (broadcast), aggregated per
    threshold map-side — no per-threshold rescan."""
    from multi_search_retrival_big_data_spark.operators import textanalysis as ta

    docs = tables.load(spark, "documents", sf_dir)
    qual = ta.quality_features(docs, "doc_id", "text").select("doc_id", "quality")
    thr = tables.local_frame(
        spark, [(float(t),) for t in _QT_THRESHOLDS], "threshold DOUBLE"
    )
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    kept = F.sum(F.when(F.col("quality") >= F.col("threshold"), 1).otherwise(0))
    return (
        qual.crossJoin(F.broadcast(thr))
        .groupBy("threshold")
        .agg(kept.cast("bigint").alias("kept"))
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            "kept",
            "total",
            (F.col("kept").cast("double") / F.col("total").cast("double")).alias(
                "kept_frac"
            ),
        )
        .orderBy("threshold")
    )


_REG["curation_quality_threshold_grid"].oracle = _quality_threshold_grid_oracle()


# ---- cross-modal corpus manifest (the dedup family composes) ---------------

# the keep-table oracles are reused verbatim as subqueries; importing
# the defining modules here guarantees their REGISTRY entries exist
# even when this module is imported directly (outside load_registry)
from multi_search_retrival_big_data_spark.queries import (  # noqa: E402
    multimodal_queries as _mmq,
    pipeline_queries as _plq,
)


def _manifest_arm_sql(modality: str, keep_oracle: str, id_col: str) -> str:
    """One manifest row over a keep-table oracle: item/keep/drop counts
    plus the md5-positional checksum (dedup.shingle_int_value) of the
    kept id set. The text arm instead checksums the kept DOCUMENT
    BYTES (join back to documents) — the actual corpus content."""
    if modality == "text":
        chks = f"""CAST(SUM(CASE WHEN k.keep THEN {_sql_v("d.text")} ELSE 0 END) AS BIGINT)"""
        src = f"({keep_oracle}) k JOIN documents d ON d.doc_id = k.doc_id"
    else:
        chks = f"""CAST(SUM(CASE WHEN k.keep THEN {_sql_v(f"CAST(k.{id_col} AS VARCHAR)")} ELSE 0 END) AS BIGINT)"""
        src = f"({keep_oracle}) k"
    return f"""SELECT '{modality}' AS modality,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN k.keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           {chks} AS kept_checksum
    FROM {src}"""


_MANIFEST_ARMS = [
    ("text", "dedup_keep_canonical", "doc_id"),
    ("image", "multimodal_image_dedup_keep", "frame_id"),
    ("audio", "multimodal_audio_dedup_keep", "clip_id"),
    ("video", "multimodal_video_dedup_keep", "clip_id"),
]

_MANIFEST_ORACLE = "\n    UNION ALL\n    ".join(
    _manifest_arm_sql(m, _REG[q].oracle, c) for m, q, c in _MANIFEST_ARMS
) + "\n    ORDER BY modality"


@query("pipeline_cross_modal_manifest", oracle=_MANIFEST_ORACLE)
def pipeline_cross_modal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CROSS-MODAL corpus manifest (r8 verdict item 8): one
    composed pipeline joining the dedup family's four PRODUCT tables —
    text (MinHash-LSH keep_canonical), image (wide 128-bit dHash
    Hamming-band, r10 promotion), audio (landmark offset vote), video
    (frame-sequence vote), each
    already closed over connected components — into a single
    per-modality manifest: item/keep/drop counts plus a checksum
    pinning the exact surviving set (text: md5-positional sum over the
    kept document BYTES; media: over the kept id set, whose synthetic
    content is id-determined). This is the table a training-data
    release manifest ships: which items of each modality survived
    dedup, and a fingerprint to verify a re-run reproduced the same
    corpus. Proves the family COMPOSES: all four keep tables coexist
    in one plan with their CC closures and band/cap guards intact.

    Scale notes: each arm aggregates its keep table (item-count-sized,
    ≪ corpus) with map-side-combinable sums; the only corpus-touching
    work is inherited from the keep pipelines themselves plus the text
    arm's one equi-join back to documents for the content checksum.
    The four arms share nothing and can run as independent jobs at
    100 TB; the manifest union is 4 rows."""
    docs = tables.load(spark, "documents", sf_dir)
    keeps = {
        "text": _plq.dedup_keep_canonical(spark, sf_dir).withColumnRenamed(
            "doc_id", "item_id"
        ),
        "image": _mmq.multimodal_image_dedup_keep(spark, sf_dir).withColumnRenamed(
            "frame_id", "item_id"
        ),
        "audio": _mmq.multimodal_audio_dedup_keep(spark, sf_dir).withColumnRenamed(
            "clip_id", "item_id"
        ),
        "video": _mmq.multimodal_video_dedup_keep(spark, sf_dir).withColumnRenamed(
            "clip_id", "item_id"
        ),
    }
    return _manifest_df(docs, keeps)


def _manifest_df(docs: DataFrame, keeps: dict[str, DataFrame]) -> DataFrame:
    """Manifest assembly shared by the full and incremental manifest
    queries: per-modality item/keep/drop counts + the md5-positional
    checksum of the surviving set (text arm checksums the kept document
    BYTES). `keeps` values carry (item_id, keep)."""
    arms = []
    for modality, k in keeps.items():
        if modality == "text":
            joined = k.join(
                docs.select(F.col("doc_id").alias("item_id"), "text"), "item_id"
            )
            v = shingle_int_value(F.col("text"))
        else:
            joined = k
            v = shingle_int_value(F.col("item_id").cast("string"))
        arms.append(
            joined.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_items"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_kept"),
                F.sum(F.when(F.col("keep"), 0).otherwise(1))
                .cast("bigint")
                .alias("n_dropped"),
                F.sum(F.when(F.col("keep"), v).otherwise(F.lit(0)))
                .cast("bigint")
                .alias("kept_checksum"),
            ).select(F.lit(modality).alias("modality"), "*")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("modality")


def _keep_table(items: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """keep/drop product table over a near-dup pair graph: connected
    components (pair-graph-sized) -> keep = cluster-minimum item,
    unmatched items survive — the shared tail of the image/audio/video
    keep pipelines, here parameterized so the incremental manifest can
    run it over APPENDED candidate state."""
    from multi_search_retrival_big_data_spark.operators import dedup

    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    return (
        items.select(id_col)
        .join(
            comp.select(F.col("node").alias(id_col), "cluster_id"),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


@query("pipeline_manifest_incremental", oracle=_MANIFEST_ORACLE)
def pipeline_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL cross-modal manifest (r9 verdict item 5 — the full
    manifest recomputes all four keep pipelines from the raw corpus;
    this one rebuilds it from APPENDED candidate state): the five
    per-item state tables (text shingles + minhash signatures, image /
    video dHash fingerprints, audio landmarks) are built from the BASE
    60% media slice and the remaining 40% arrives as a DELTA APPEND
    (index_store.manifest_media_state_incremental — per-item pure
    functions, so appends are exact); the pair mining, df-caps,
    connected components, winner elections, and manifest aggregation
    then RECOMPUTE over the post-append state. The oracle is the FULL-
    recompute manifest SQL (_MANIFEST_ORACLE, verbatim), so the driver
    hash-match IS the parity proof: manifest-from-appended-state ≡
    from-scratch manifest.

    Scale notes: this is the media pipeline's production append
    boundary — decode/shingle/fingerprint (the corpus-bound Python-seam
    work) runs only over the new batch, while cap and df statistics
    are corpus-global model state recomputed over the candidate tables
    (thousands of times smaller than the corpus) — the same train/add
    split as the IVF/TF-IDF/BM25 incrementals. The text verify reads
    the bucketed appended shingle/signature tables exchange-free."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import (
        dedup,
        multimodal as mm,
    )

    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    st = index_store.manifest_media_state_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    docs = tables.load(spark, "documents", sf_dir)
    pairs_t = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        _plq.JACCARD_THRESHOLD,
        shingles=st["shingles"],
        signatures=st["signatures"],
        max_bucket=_plq.LSH_MAX_BUCKET,
    )
    comp_t = dedup.connected_components_auto(pairs_t.select("id_a", "id_b"))
    keep_text = dedup.keep_canonical(docs, comp_t, "doc_id", "n_chars")
    keep_img = _keep_table(
        st["image_fp"],
        "frame_id",
        mm.image_near_duplicates(
            st["image_fp"],
            max_bucket=mm.DHASH_MAX_BUCKET,
            bits=mm.WIDE_DHASH_BITS,
        ),
    )
    clips = mm.synth_audio_clips(mm.as_media_table(docs))
    keep_aud = _keep_table(
        clips, "clip_id", mm.audio_near_duplicates(st["audio_landmarks"])
    )
    vclips = st["video_fp"].select(
        F.expr("frame_id div 10").alias("clip_id")
    ).distinct()
    keep_vid = _keep_table(
        vclips, "clip_id", mm.video_near_duplicates(st["video_fp"])
    )
    keeps = {
        "text": keep_text.withColumnRenamed("doc_id", "item_id"),
        "image": keep_img.withColumnRenamed("frame_id", "item_id"),
        "audio": keep_aud.withColumnRenamed("clip_id", "item_id"),
        "video": keep_vid.withColumnRenamed("clip_id", "item_id"),
    }
    return _manifest_df(docs, keeps)
