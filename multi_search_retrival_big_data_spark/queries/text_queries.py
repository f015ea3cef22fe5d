"""Oracle-checked text-analysis queries over `documents` — SimHash
fingerprints + near-dup pairs, winnowing fingerprints, language ID,
quality scoring, token counting (operators/textanalysis.py).

Oracle SQL is generated from the same constants/stopword lists the
Spark operators use; every hash is md5 over identical bytes, so values
match bit-for-bit (the gate rounds floats to 9 decimals and then
requires exact equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import textanalysis as ta
from multi_search_retrival_big_data_spark.queries import query

_HEX = ta.HEX_CHARS
_BITS = ta.SIMHASH_BITS
_CHUNKS = ta.SIMHASH_CHUNKS
_CW = _BITS // _CHUNKS


def _simhash_cte() -> str:
    """CTEs computing (doc_id, simhash) exactly like
    textanalysis.simhash_fingerprints."""
    vals = ",\n             ".join(
        f"instr('{_HEX}', substring(md5(tok), {d + 1}, 1)) - 1 AS v{d}" for d in range(16)
    )
    sums = ",\n             ".join(
        f"SUM(tf * (((v{p // 4} >> {p % 4}) & 1) * 2 - 1)) AS s{p}" for p in range(_BITS)
    )
    bits = ", ".join(
        f"CASE WHEN s{p} >= 0 THEN '1' ELSE '0' END" for p in range(_BITS)
    )
    return rf"""
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    vals AS (
      SELECT doc_id, tf,
             {vals}
      FROM tf
    ),
    sums AS (
      SELECT doc_id,
             {sums}
      FROM vals GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, concat({bits}) AS simhash FROM sums)"""


@query(
    "text_simhash_fingerprints",
    oracle=f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM fp ORDER BY doc_id",
)
def text_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, "documents", sf_dir)
    return ta.simhash_fingerprints(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "text_simhash_near_dups",
    oracle=f"""
    WITH {_simhash_cte()},
    chunks AS (
      SELECT doc_id, simhash, CAST(c AS INTEGER) AS chunk_idx,
             substring(simhash, CAST(c AS INTEGER) * {_CW} + 1, {_CW}) AS chunk
      FROM fp, unnest(range(0, {_CHUNKS})) AS t(c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM chunks a
      JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {_BITS + 1}),
                 p -> substring(sh_a, CAST(p AS INTEGER), 1)
                   <> substring(sh_b, CAST(p AS INTEGER), 1))) AS hamming
      FROM cand
    )
    SELECT id_a, id_b, hamming FROM scored
    WHERE hamming <= {_CHUNKS - 1}
    ORDER BY hamming, id_a, id_b
    """,
)
def text_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: 8-bit-chunk pigeonhole candidates,
    verified Hamming ≤ 7 — full recall at that radius from the
    bucket-pair miner, no all-pairs scan."""
    docs = tables.load(spark, "documents", sf_dir)
    fp = ta.simhash_fingerprints(docs, "doc_id", "text")
    out = ta.simhash_near_duplicates(fp, "doc_id")
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("hamming", "id_a", "id_b")


_WK, _WW = ta.WINNOW_K, ta.WINNOW_W


@query(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, length(text) AS len,
             md5(substring(lower(text), CAST(i AS INTEGER), {_WK})) AS gh
      FROM documents, unnest(range(1, length(text) - {_WK - 2})) AS t(i)
      WHERE length(text) >= {_WK + _WW - 1}
    ),
    wins AS (
      SELECT doc_id, pos, len,
             min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND {_WW - 1} FOLLOWING) AS wmin
      FROM grams
    ),
    fp AS (
      SELECT DISTINCT doc_id, wmin FROM wins
      WHERE pos <= len - {_WK - 1} - {_WW - 1}
    )
    SELECT doc_id, count(*) AS n_fp, min(wmin) AS fp_min, max(wmin) AS fp_max
    FROM fp GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary per doc (count / min / max of the
    fingerprint set) — compact value check of the full rolling-hash
    window pipeline."""
    docs = tables.load(spark, "documents", sf_dir)
    fp = ta.winnow_fingerprints(docs, "doc_id", "text")
    return (
        fp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.min("fingerprint").alias("fp_min"),
            F.max("fingerprint").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


def _stopword_values() -> str:
    return ", ".join(
        f"('{lang}', '{w}')" for lang, words in ta.STOPWORDS.items() for w in words
    )


@query(
    "text_language_id",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS word
      FROM documents
    ),
    ntok AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id),
    sw(lang, word) AS (VALUES {_stopword_values()}),
    hits AS (
      SELECT doc_id, lang, count(*) AS hits
      FROM toks JOIN sw USING (word) GROUP BY doc_id, lang
    ),
    best AS (
      SELECT doc_id, lang, hits,
             row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
      FROM hits
    )
    SELECT d.doc_id,
           coalesce(b.lang, 'und') AS predicted_lang,
           coalesce(b.hits, 0) AS hits,
           coalesce(n.n_tokens, 0) AS n_tokens,
           CASE WHEN coalesce(n.n_tokens, 0) > 0
                THEN coalesce(b.hits, 0) / CAST(n.n_tokens AS DOUBLE)
                ELSE 0.0 END AS hit_ratio
    FROM documents d
    LEFT JOIN (SELECT doc_id, lang, hits FROM best WHERE rn = 1) b USING (doc_id)
    LEFT JOIN ntok n USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, "documents", sf_dir)
    return ta.language_id(docs, "doc_id", "text").orderBy("doc_id")


_EN_LIST = ", ".join(f"'{w}'" for w in ta.STOPWORDS["en"])

# The composite-quality expression (mirrors textanalysis.quality_features'
# rational-arithmetic score exactly) — shared with the curation
# quantile-filter oracle so the two cannot drift apart.
QUALITY_SQL = rf"""(len(list_filter(regexp_extract_all(lower(text), '\w+'),
                x -> list_contains([{_EN_LIST}], x)))
              / CAST(CASE WHEN len(regexp_extract_all(lower(text), '\w+')) > 0
                          THEN len(regexp_extract_all(lower(text), '\w+')) ELSE 1 END AS DOUBLE)
            + (1.0 - length(regexp_replace(text, '[\w\s]', '', 'g'))
                 / CAST(CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS DOUBLE))
            + CAST(least(len(regexp_extract_all(lower(text), '\w+')), 100) AS DOUBLE) / 100.0
           ) / 3.0"""


@query(
    "text_quality_scores",
    oracle=rf"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_extract_all(lower(text), '\w+')) AS n_tokens,
           length(regexp_replace(text, '[^\w]', '', 'g'))
             / CAST(CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS DOUBLE)
             AS word_char_ratio,
           length(regexp_replace(text, '[\w\s]', '', 'g'))
             / CAST(CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS DOUBLE)
             AS punct_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g'))
             / CAST(CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END AS DOUBLE)
             AS digit_ratio,
           len(list_filter(regexp_extract_all(lower(text), '\w+'),
               x -> list_contains([{_EN_LIST}], x)))
             / CAST(CASE WHEN len(regexp_extract_all(lower(text), '\w+')) > 0
                         THEN len(regexp_extract_all(lower(text), '\w+')) ELSE 1 END AS DOUBLE)
             AS stopword_ratio,
           {QUALITY_SQL} AS quality
    FROM documents
    ORDER BY doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, "documents", sf_dir)
    return ta.quality_features(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "text_token_counts",
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '\w+')) AS word_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
           length(text) AS n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.load(spark, "documents", sf_dir)
    return ta.token_counts(docs, "doc_id", "text").orderBy("doc_id")


from multi_search_retrival_big_data_spark.queries.common import det_round, sql_det_round, sql_dsum


@query(
    "text_bigram_lm_scores",
    oracle=f"""
    WITH bigrams AS (
      SELECT doc_id, substring(lower(text), CAST(i AS INTEGER), 2) AS g
      FROM documents, unnest(range(1, length(text))) AS t(i)
      WHERE length(text) >= 2
    ),
    c2 AS (SELECT g, count(*) AS c2 FROM bigrams GROUP BY g),
    c1 AS (SELECT substring(g, 1, 1) AS x, count(*) AS c1 FROM bigrams GROUP BY 1),
    v AS (SELECT count(DISTINCT substring(g, 1, 1)) AS v FROM bigrams),
    scored AS (
      SELECT b.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
      FROM bigrams b JOIN c2 USING (g)
      JOIN c1 ON substring(b.g, 1, 1) = c1.x
      CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams,
           {sql_det_round(sql_dsum('lp', 9) + ' / count(*)')} AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-estimated char-bigram LM score per document — the
    perplexity-style quality filter of training-data pipelines."""
    docs = tables.load(spark, "documents", sf_dir)
    return ta.char_bigram_lm_scores(docs, "doc_id", "text").orderBy("doc_id")


# --- benchmark decontamination + repetition filters ------------------------

from multi_search_retrival_big_data_spark.queries.sampling_queries import (  # noqa: E402
    SAMPLE_THRESHOLD_HEX as _EVAL_THR,
)

_DECON_N = 5
_DECON_MIN_HITS = 2


@query(
    "decontamination_eval_overlap",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[CAST(i AS INT):CAST(i + {_DECON_N - 1} AS INT)], ' ') AS gram
      FROM tok, unnest(range(1, greatest(len(t) - {_DECON_N - 2}, 1))) AS r(i)
    ),
    ev AS (SELECT * FROM g WHERE md5(CAST(doc_id AS VARCHAR)) < '{_EVAL_THR}'),
    co AS (SELECT * FROM g WHERE md5(CAST(doc_id AS VARCHAR)) >= '{_EVAL_THR}')
    SELECT co.doc_id AS corpus_id, ev.doc_id AS eval_id, count(*) AS shared_ngrams
    FROM co JOIN ev USING (gram)
    GROUP BY 1, 2
    HAVING count(*) >= {_DECON_MIN_HITS}
    ORDER BY corpus_id, eval_id
    """,
)
def decontamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 / Pile n-gram protocol): the
    deterministic ~10% md5 eval split is checked against the remaining
    training corpus for shared word {n}-grams
    (textanalysis.decontamination_overlap); rows = (corpus_id,
    eval_id, shared_ngrams ≥ {m}) — the documents a pipeline must drop
    or flag before training so eval numbers stay honest. Equi-join on
    the gram value with the tiny eval side broadcast."""
    from multi_search_retrival_big_data_spark.operators import sampling

    docs = tables.load(spark, "documents", sf_dir)
    evalset = sampling.hash_sample(docs, "doc_id", _EVAL_THR)
    corpus = docs.join(evalset.select("doc_id"), "doc_id", "left_anti")
    out = ta.decontamination_overlap(
        corpus, evalset, "doc_id", "text", n=_DECON_N, min_hits=_DECON_MIN_HITS
    )
    return out.orderBy("corpus_id", "eval_id")


@query(
    "text_repetition_filters",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, string_split(text, chr(10)) AS lines,
             regexp_extract_all(lower(text), '\w+') AS t
      FROM documents
    ),
    bi AS (
      SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i + 1 AS INT)], ' ') AS g
      FROM base, unnest(range(1, greatest(len(t), 1))) AS r(i)
    ),
    bic AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi, CAST(MAX(c) AS BIGINT) AS top
      FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2) GROUP BY doc_id
    ),
    tri AS (
      SELECT doc_id, array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS g
      FROM base, unnest(range(1, greatest(len(t) - 1, 1))) AS r(i)
    ),
    tric AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) - COUNT(CASE WHEN c > 1 THEN 1 END) AS BIGINT) AS extra
      FROM (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2) GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.lines) AS BIGINT) AS n_lines,
           1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE) / CAST(len(b.lines) AS DOUBLE) AS dup_line_frac,
           COALESCE(bic.top, 0) AS top_bigram_count,
           CASE WHEN COALESCE(bic.n_bi, 0) > 0
                THEN (2.0 * bic.top) / (CAST(bic.n_bi AS DOUBLE) + 1.0)
                ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN COALESCE(tric.n_tri, 0) > 0
                THEN CAST(tric.extra AS DOUBLE) / CAST(tric.n_tri AS DOUBLE)
                ELSE 0.0 END AS dup_trigram_frac
    FROM base b LEFT JOIN bic USING (doc_id) LEFT JOIN tric USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per document
    (textanalysis.repetition_features): duplicate-line fraction,
    most-frequent-bigram token coverage, duplicated-trigram fraction —
    the boilerplate/spam signals a pre-training pipeline thresholds.
    Pure array expressions (no shuffle, whole-stage codegen); the
    oracle recomputes via explode + group-by, proving the two
    formulations agree value-for-value."""
    docs = tables.load(spark, "documents", sf_dir)
    return ta.repetition_features(docs, "doc_id", "text").orderBy("doc_id")


DRIFT_TOP = 15


@query(
    "monitor_token_drift",
    oracle=rf"""
    WITH newc AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'rev: ' || text ELSE text END AS text
      FROM documents
    ),
    bt AS (
      SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS token FROM documents
    ),
    nt AS (
      SELECT unnest(regexp_extract_all(lower(text), '\w+')) AS token FROM newc
    ),
    bc AS (SELECT token, count(*) AS cnt FROM bt GROUP BY token),
    nc AS (SELECT token, count(*) AS cnt FROM nt GROUP BY token),
    btot AS (SELECT SUM(cnt) AS t FROM bc),
    ntot AS (SELECT SUM(cnt) AS t FROM nc),
    bp AS (SELECT token, cnt / CAST(btot.t AS DOUBLE) AS p FROM bc, btot),
    np AS (SELECT token, cnt / CAST(ntot.t AS DOUBLE) AS p FROM nc, ntot),
    diff AS (
      SELECT COALESCE(bp.token, np.token) AS token,
             COALESCE(bp.p, 0.0) AS p_base,
             COALESCE(np.p, 0.0) AS p_new
      FROM bp FULL OUTER JOIN np ON bp.token = np.token
    )
    SELECT token,
           {sql_det_round('pb_raw', 9)} AS p_base,
           {sql_det_round('pn_raw', 9)} AS p_new,
           {sql_det_round('pn_raw - pb_raw', 9)} AS delta
    FROM (
      SELECT token, p_base AS pb_raw, p_new AS pn_raw FROM diff
    )
    ORDER BY {sql_det_round('abs(pn_raw - pb_raw)', 9)} DESC, token
    LIMIT {DRIFT_TOP}
    """,
)
def monitor_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor — the data-quality check a pipeline runs
    after every corpus refresh: token-frequency distributions of the
    base corpus vs its upserted revision (every 3rd doc revised, the
    corpus_upsert_merge delta), full-outer-joined, top movers by
    |Δp|. Both distributions are vocabulary-sized aggregates off one
    scan each; probabilities are int/int divisions so the diff is
    bit-exact cross-engine. At 100 TB run it on top-K distributions
    or hash-sampled corpora (sampling.hash_sample) — same plan."""
    docs = tables.load(spark, "documents", sf_dir)
    newc = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("rev: "), F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bp = ta.token_distribution(docs, "text").select(
        "token", F.col("p").alias("p_base")
    )
    np_ = ta.token_distribution(newc, "text").select(
        "token", F.col("p").alias("p_new")
    )
    diff = (
        bp.join(np_, "token", "full_outer")
        .select(
            "token",
            F.coalesce("p_base", F.lit(0.0)).alias("p_base"),
            F.coalesce("p_new", F.lit(0.0)).alias("p_new"),
        )
    )
    return (
        diff.select(
            "token",
            det_round(F.col("p_base"), 9).alias("p_base"),
            det_round(F.col("p_new"), 9).alias("p_new"),
            det_round(F.col("p_new") - F.col("p_base"), 9).alias("delta"),
        )
        .orderBy(
            F.desc(det_round(F.abs(F.col("p_new") - F.col("p_base")), 9)),
            F.asc("token"),
        )
        .limit(DRIFT_TOP)
    )
