"""Oracle-checked sparse-retrieval queries (SURVEY.md §2 S14/S15,
Q4/Q5/Q6) over the driver's `documents` table.

The DuckDB oracles rebuild the same sklearn-parity TF-IDF / BM25
posting lists in SQL CTEs, so both engines compute the identical
weighting math end-to-end. Shared determinism tricks: quantized
addend sums (1e-12) + floor-based output rounding (1e-6), see
queries/common.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import index_store, tables
from multi_search_retrival_big_data_spark.operators import fusion, sparse
from multi_search_retrival_big_data_spark.queries import query

QUERY_TEXT = "fast query join merge window"
QUERY_TEXT_NGRAM = "batch window scan order"

_NGRAM_SETS = {(1, 1): "[1]", (2, 2): "[2]", (1, 3): "[1,2,3]", (3, 3): "[3]"}


def _values(qterms: list[tuple[str, float | int]]) -> str:
    return ", ".join(f"('{t}', {float(c)})" for t, c in qterms)


def char_tok_chain(prefix: str, n_min: int, n_max: int, table: str = "documents") -> str:
    """`{p}tok (doc_id, term)` as char n-grams of the lowercased text —
    the SQL mirror of functions.text.char_ngrams (the reference's
    empty-vocabulary fallback analyzer, object_retrieval.py:79-89)."""
    p = prefix
    lens = ", ".join(str(n) for n in range(n_min, n_max + 1))
    return f"""
    {p}lens AS (SELECT CAST(unnest([{lens}]) AS INT) AS g),
    {p}cpos AS (SELECT CAST(unnest(range(1, (SELECT MAX(length(text)) FROM {table}) + 1)) AS INT) AS s),
    {p}tok AS (
      SELECT doc_id, substring(lower(text), s, g) AS term
      FROM {table}, {p}lens, {p}cpos WHERE s <= length(text) - g + 1
    )"""


def tfidf_cte(prefix: str, ngram_range: tuple[int, int], qterms: list[tuple[str, int]],
              table: str = "documents", subset_where: str = "",
              tok_chain: str | None = None) -> str:
    """CTE chain building sklearn-parity postings + normalized query
    vector + per-doc scores, namespaced by `prefix`. `tok_chain`
    overrides the token source (must define `{p}tok (doc_id, term)`);
    default is the word n-gram chain."""
    p = prefix
    if tok_chain is None:
        grams = _NGRAM_SETS[ngram_range]
        tok_chain = f"""
    {p}toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM {table}),
    {p}pos AS (SELECT CAST(unnest(range(1, (SELECT MAX(len(t)) FROM {p}toks) + 1)) AS INT) AS s),
    {p}grams AS (SELECT unnest({grams}) AS g),
    {p}tok AS (
      SELECT doc_id, array_to_string(t[s:s+g-1], ' ') AS term
      FROM {p}toks, {p}pos, {p}grams WHERE s <= len(t) - g + 1
    )"""
    return f"""
    {tok_chain},
    {p}tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM {p}tok GROUP BY 1, 2),
    {p}dfreq AS (SELECT term, COUNT(*) AS df FROM {p}tf GROUP BY 1),
    {p}n AS (SELECT COUNT(*) AS n FROM {table}),
    {p}raw AS (
      SELECT f.doc_id, f.term,
             f.tf * (ln((1.0 + n.n) / (1.0 + d.df)) + 1.0) AS w_raw,
             ln((1.0 + n.n) / (1.0 + d.df)) + 1.0 AS idf
      FROM {p}tf f JOIN {p}dfreq d USING(term) CROSS JOIN {p}n n
    ),
    {p}norms AS (SELECT doc_id, sqrt(SUM(w_raw * w_raw)) AS nrm FROM {p}raw GROUP BY 1),
    {p}post AS (
      SELECT r.term, r.doc_id, r.w_raw / s.nrm AS weight, r.idf
      FROM {p}raw r JOIN {p}norms s USING(doc_id)
    ),
    {p}q(term, qtf) AS (VALUES {_values(qterms)}),
    {p}qv0 AS (
      SELECT q.term, q.qtf * i.idf AS w
      FROM {p}q q JOIN (SELECT DISTINCT term, idf FROM {p}post) i USING(term)
    ),
    {p}qn AS (SELECT sqrt(SUM(w * w)) AS qn FROM {p}qv0),
    {p}qv AS (SELECT term, w / qn.qn AS qw FROM {p}qv0, {p}qn qn),
    {p}scored AS (
      SELECT p.doc_id,
             CAST(SUM(CAST(FLOOR(v.qw * p.weight * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM {p}post p JOIN {p}qv v USING(term)
      {subset_where}
      GROUP BY 1
    ),
    {p}topk AS (
      SELECT doc_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
      FROM {p}scored
    )"""


_Q11 = sparse.query_terms(QUERY_TEXT, (1, 1))
_Q13 = sparse.query_terms(QUERY_TEXT_NGRAM, (1, 3))


@query(
    "sparse_tfidf_topk",
    oracle=f"""
    WITH {tfidf_cte('', (1, 1), _Q11)}
    SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — TF-IDF cosine scoring via inverted-index join
    (reference find_similar_score, object_retrieval.py:303-325).
    Reads the persisted term-bucketed posting table (index_store) —
    the reference's fitted-artifact load (object_retrieval.py:117-145),
    never a per-query re-fit."""
    postings = index_store.tfidf_postings(spark, sf_dir)
    return sparse.tfidf_score(postings, _Q11, k=50, round_to=6)


@query(
    "sparse_tfidf_topk_subset",
    oracle=f"""
    WITH {tfidf_cte('', (1, 1), _Q11,
                    subset_where="WHERE p.doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')")}
    SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_tfidf_topk_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 subset path — the reference's `M[index,:]` row-slice
    (object_retrieval.py:320-323) as a pre-aggregation semi-join."""
    docs = tables.load(spark, "documents", sf_dir)
    postings = index_store.tfidf_postings(spark, sf_dir)
    subset = docs.filter(F.col("lang") == "en").select("doc_id")
    return sparse.tfidf_score(postings, _Q11, k=50, subset=subset, round_to=6)


@query(
    "sparse_tfidf_ngram13_topk",
    oracle=f"""
    WITH {tfidf_cte('', (1, 3), _Q13)}
    SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_tfidf_ngram13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 — the OCR/ASR channel shape: word (1,3) n-grams
    (ocr_retrieval.py:27-41; speech_retrieval.py:56-68)."""
    postings = index_store.tfidf_postings(spark, sf_dir, ngram_range=(1, 3))
    return sparse.tfidf_score(postings, _Q13, k=50, round_to=6)


@query(
    "sparse_bm25_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    avgdl AS (SELECT AVG(dl) AS avgdl FROM dl),
    idf0 AS (
      SELECT term, ln((n.n - d.df + 0.5) / (d.df + 0.5)) AS idf_raw
      FROM dfreq d CROSS JOIN n
    ),
    avgidf AS (SELECT AVG(idf_raw) AS avg_idf FROM idf0),
    idf AS (
      SELECT term, CASE WHEN idf_raw < 0 THEN 0.25 * a.avg_idf ELSE idf_raw END AS idf
      FROM idf0 CROSS JOIN avgidf a
    ),
    post AS (
      SELECT f.term, f.doc_id,
             i.idf * (f.tf * 2.5) / (f.tf + 1.5 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS score_w
      FROM tf f JOIN idf i USING(term) JOIN dl l USING(doc_id) CROSS JOIN avgdl a
    ),
    q(term, qtf) AS (VALUES {_values(_Q11)}),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(CAST(FLOOR(q.qtf * p.score_w * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM post p JOIN q USING(term) GROUP BY 1
    )
    SELECT doc_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM scored ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 — BM25Okapi (k1=1.5, b=0.75, epsilon idf floor) as a SQL
    expression over posting lists (reference bm25.py:24-57, 80-109)."""
    postings = index_store.bm25_postings(spark, sf_dir)
    return sparse.bm25_score(postings, _Q11, k=50, round_to=6)


def _minmax_fuse_sql(list_ctes: list[str], k: int) -> str:
    """Q8 fusion over named CTEs each exposing (doc_id, score)."""
    normed = []
    for i, cte in enumerate(list_ctes):
        normed.append(f"""
    mm{i} AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM {cte}),
    nrm{i} AS (
      SELECT doc_id, (score - mm.mn) / (mm.mx - mm.mn + 1e-6) AS score
      FROM {cte} CROSS JOIN mm{i} mm
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM nrm{i}" for i in range(len(list_ctes)))
    return (
        ",".join(normed)
        + f""",
    fused AS (
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(score * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM ({union}) u GROUP BY 1
    )
    SELECT doc_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM fused ORDER BY score DESC, doc_id LIMIT {k}
    """
    )


_QW = sparse.query_terms(QUERY_TEXT_NGRAM, (1, 1))
_QB = sparse.query_terms(QUERY_TEXT_NGRAM, (2, 2))
_QT = sparse.query_terms(QUERY_TEXT_NGRAM, (3, 3))


@query(
    "sparse_multichannel_context",
    oracle=f"""
    WITH {tfidf_cte('w_', (1, 1), _QW)},
    {tfidf_cte('b_', (2, 2), _QB)},
    {tfidf_cte('t_', (3, 3), _QT)},
    w_top AS (SELECT doc_id, score FROM w_topk ORDER BY score DESC, doc_id LIMIT 50),
    b_top AS (SELECT doc_id, score FROM b_topk ORDER BY score DESC, doc_id LIMIT 50),
    t_top AS (SELECT doc_id, score FROM t_topk ORDER BY score DESC, doc_id LIMIT 50),
    {_minmax_fuse_sql(['w_top', 'b_top', 't_top'], 20).lstrip().removeprefix(',')}
    """,
)
def sparse_multichannel_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 — multi-channel context search: per-channel TF-IDF top-k
    fused by min-max addition (reference object_retrieval.__call__,
    object_retrieval.py:286-301 → combine_utils Q8). Channels here are
    three n-gram views of the corpus (the reference's channels are
    separate token corpora over the same ids)."""
    postings = index_store.multichannel_postings(
        spark, sf_dir, {"w": (1, 1), "b": (2, 2), "t": (3, 3)}
    )
    return sparse.multichannel_tfidf_score(
        postings,
        {"w": _QW, "b": _QB, "t": _QT},
        k_per_channel=50,
        k=20,
        round_to=6,
    )


_BATCH_SPARSE = {
    0: _Q11,
    1: sparse.query_terms("slow scan table filter"),
    2: sparse.query_terms("hash group sort key"),
}


def _batch_q_values() -> str:
    return ", ".join(
        f"({qid}, '{t}', {float(c)})"
        for qid, terms in _BATCH_SPARSE.items()
        for t, c in terms
    )


@query(
    "sparse_batch_tfidf_topk",
    oracle=f"""
    WITH {tfidf_cte('', (1, 1), _Q11)},
    bq(query_id, term, qtf) AS (VALUES {_batch_q_values()}),
    bqv0 AS (
      SELECT bq.query_id, bq.term, bq.qtf * i.idf AS w
      FROM bq JOIN (SELECT DISTINCT term, idf FROM post) i USING (term)
    ),
    bqn AS (SELECT query_id, sqrt(SUM(w * w)) AS qn FROM bqv0 GROUP BY query_id),
    bqv AS (
      SELECT v.query_id, v.term, v.w / n.qn AS qw
      FROM bqv0 v JOIN bqn n USING (query_id)
    ),
    bscored AS (
      SELECT v.query_id, p.doc_id,
             CAST(FLOOR((CAST(SUM(CAST(FLOOR(v.qw * p.weight * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
      FROM post p JOIN bqv v USING (term)
      GROUP BY v.query_id, p.doc_id
    ),
    branked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM bscored
    )
    SELECT query_id, doc_id, score FROM branked WHERE rn <= 20
    ORDER BY query_id, score DESC, doc_id
    """,
)
def sparse_batch_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query sparse scoring: 3 queries join the posting
    index in one pass, per-query top-20 via a partitioned window — the
    high-throughput lexical serving shape."""
    postings = index_store.tfidf_postings(spark, sf_dir)
    return sparse.batch_tfidf_score(postings, _BATCH_SPARSE, k=20, round_to=6)


_QC = sparse.query_terms(QUERY_TEXT, (3, 5), analyzer="char")


@query(
    "sparse_tfidf_char_fallback",
    oracle=f"""
    WITH {tfidf_cte('', (3, 5), _QC, tok_chain=char_tok_chain('', 3, 5))}
    SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_tfidf_char_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's empty-vocabulary fallback channel: when the word
    vocabulary comes out empty, sklearn re-fits with a char analyzer
    (object_retrieval.py:79-89). Here it is a first-class persisted
    char-(3,5)-gram TF-IDF index scored exactly like the word channel —
    same posting-join plan, ~20× more postings per doc (every char
    position × 3 lengths), which is why it stays a fallback, not the
    default."""
    postings = index_store.tfidf_postings(
        spark, sf_dir, ngram_range=(3, 5), analyzer="char"
    )
    return sparse.tfidf_score(postings, _QC, k=50, round_to=6)


# --- incremental text-index maintenance ------------------------------------

from multi_search_retrival_big_data_spark.queries.common import (  # noqa: E402
    dsum,
    sql_dsum,
)


_TFIDF_INC_AGG_ORACLE = rf"""
    WITH t1 AS (SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v FROM documents),
    btok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      FROM documents, t1 WHERE doc_id < t1.v
    ),
    btf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM btok GROUP BY 1, 2),
    bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
    bn AS (SELECT COUNT(*) AS n FROM documents, t1 WHERE doc_id < t1.v),
    model AS (
      SELECT term, ln((1.0 + n.n) / (1.0 + d.df)) + 1.0 AS idf
      FROM bdf d CROSS JOIN bn n
    ),
    braw AS (
      SELECT f.doc_id, f.term, f.tf * m.idf AS w_raw, m.idf AS idf
      FROM btf f JOIN model m USING (term)
    ),
    bnorm AS (SELECT doc_id, sqrt(SUM(w_raw * w_raw)) AS nrm FROM braw GROUP BY 1),
    bpost AS (
      SELECT r.term, r.doc_id, r.w_raw / s.nrm AS weight, r.idf
      FROM braw r JOIN bnorm s USING (doc_id)
    ),
    dtok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      FROM documents, t1 WHERE doc_id >= t1.v
    ),
    dtf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM dtok GROUP BY 1, 2),
    draw AS (
      SELECT f.doc_id, f.term, f.tf * m.idf AS w_raw, m.idf AS idf
      FROM dtf f JOIN model m USING (term)
    ),
    dnorm AS (SELECT doc_id, sqrt(SUM(w_raw * w_raw)) AS nrm FROM draw GROUP BY 1),
    dpost AS (
      SELECT r.term, r.doc_id, r.w_raw / s.nrm AS weight, r.idf
      FROM draw r JOIN dnorm s USING (doc_id)
    ),
    allp AS (SELECT * FROM bpost UNION ALL SELECT * FROM dpost)
    SELECT CAST(doc_id % 16 AS BIGINT) AS g, count(*) AS n_postings,
           {sql_dsum('weight', 6)} AS w_sum,
           {sql_dsum('idf', 6)} AS idf_sum
    FROM allp GROUP BY 1 ORDER BY g
    """


@query(
    "index_incremental_tfidf_parity",
    oracle=_TFIDF_INC_AGG_ORACLE,
)
def index_incremental_tfidf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental text-index maintenance proof
    (index_store.tfidf_postings_incremental — sklearn's fit/transform
    split as a bucketed append): postings FIT from the base corpus
    slice (vocabulary + idf = the frozen model), delta documents
    APPENDED via sparse.transform_tfidf (delta-only tf pass,
    out-of-vocabulary terms dropped, per-doc L2 norm over surviving
    terms). The oracle re-derives the base-slice model (threshold =
    floor(max(doc_id)·0.6), the incremental_split_filters arithmetic)
    and both posting sets from raw text; quantized per-group sums of
    weight and idf prove append ≡ fit+transform. Extends the
    incremental family from the four ANN paths to the text index —
    the most common production append: new documents into a search
    index without a corpus refit."""
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.tfidf_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    return (
        t.groupBy((F.col("doc_id") % 16).cast("bigint").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            dsum(F.col("weight"), 6).alias("w_sum"),
            dsum(F.col("idf"), 6).alias("idf_sum"),
        )
        .orderBy("g")
    )


@query(
    "index_incremental_bm25_parity",
    oracle=rf"""
    WITH t1 AS (SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v FROM documents),
    btok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      FROM documents, t1 WHERE doc_id < t1.v
    ),
    btf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM btok GROUP BY 1, 2),
    bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
    bn AS (SELECT COUNT(*) AS n FROM documents, t1 WHERE doc_id < t1.v),
    bdl AS (SELECT doc_id, SUM(tf) AS dl FROM btf GROUP BY 1),
    bavgdl AS (SELECT AVG(dl) AS avgdl FROM bdl),
    idf0 AS (
      SELECT term, ln((n.n - d.df + 0.5) / (d.df + 0.5)) AS idf_raw
      FROM bdf d CROSS JOIN bn n
    ),
    avgidf AS (SELECT AVG(idf_raw) AS avg_idf FROM idf0),
    model AS (
      SELECT term,
             CASE WHEN idf_raw < 0 THEN 0.25 * a.avg_idf ELSE idf_raw END AS idf
      FROM idf0 CROSS JOIN avgidf a
    ),
    bpost AS (
      SELECT f.term, f.doc_id,
             m.idf * (f.tf * 2.5)
               / (f.tf + 1.5 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS score_w
      FROM btf f JOIN model m USING (term) JOIN bdl l USING (doc_id)
      CROSS JOIN bavgdl a
    ),
    dtok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      FROM documents, t1 WHERE doc_id >= t1.v
    ),
    dtf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM dtok GROUP BY 1, 2),
    ddl AS (SELECT doc_id, SUM(tf) AS dl FROM dtf GROUP BY 1),
    dpost AS (
      SELECT f.term, f.doc_id,
             m.idf * (f.tf * 2.5)
               / (f.tf + 1.5 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS score_w
      FROM dtf f JOIN model m USING (term) JOIN ddl l USING (doc_id)
      CROSS JOIN bavgdl a
    ),
    allp AS (SELECT * FROM bpost UNION ALL SELECT * FROM dpost)
    SELECT CAST(doc_id % 16 AS BIGINT) AS g, count(*) AS n_postings,
           {sql_dsum('score_w', 6)} AS w_sum
    FROM allp GROUP BY 1 ORDER BY g
    """,
)
def index_incremental_bm25_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 maintenance proof
    (index_store.bm25_postings_incremental): postings fit from the
    base slice under the frozen (idf, avgdl) model, delta documents
    appended via sparse.transform_bm25 (delta-only tf + per-doc
    length; corpus statistics frozen, OOV terms drop). The oracle
    re-derives the base model (Okapi idf with rank_bm25's
    epsilon·avg(idf) floor, base avgdl) and both posting sets from raw
    text — both text scorers (TF-IDF and BM25) now have proven
    append-without-refit paths."""
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.bm25_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    return (
        t.groupBy((F.col("doc_id") % 16).cast("bigint").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            dsum(F.col("score_w"), 6).alias("w_sum"),
        )
        .orderBy("g")
    )


@query(
    "index_incremental_tfidf_stream_parity",
    oracle=_TFIDF_INC_AGG_ORACLE,
)
def index_incremental_tfidf_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING text-index maintenance proof: the delta corpus lands
    one file per micro-batch and a real Structured Streaming query
    appends each batch's postings through a foreachBatch
    transform-under-frozen-model
    (index_store.tfidf_postings_stream_incremental). Per-doc weights
    depend only on that doc's surviving terms and the frozen model, so
    the result is micro-batch-boundary independent and the post-stream
    table must equal the batch fit+transform answer (the SAME oracle
    as index_incremental_tfidf_parity — batch append and streaming
    append are interchangeable, which is the point)."""
    t = index_store.tfidf_postings_stream_incremental(spark, sf_dir)
    return (
        t.groupBy((F.col("doc_id") % 16).cast("bigint").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            dsum(F.col("weight"), 6).alias("w_sum"),
            dsum(F.col("idf"), 6).alias("idf_sum"),
        )
        .orderBy("g")
    )




@query("index_compacted_tfidf_parity", oracle=_TFIDF_INC_AGG_ORACLE)
def index_compacted_tfidf_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postings-table COMPACTION proof: the append-grown incremental
    index (base fit + delta append = two file sets per bucket) is
    rewritten into a fresh single-file-set-per-bucket generation
    (index_store.compact_postings_table) and aggregated with the SAME
    oracle as index_incremental_tfidf_parity — the rewrite is lossless
    and the bucketed layout (zero-Exchange scoring joins) survives.
    This is the repair step streaming appends eventually need: without
    periodic compaction a foreachBatch-maintained index accretes one
    small file set per micro-batch (the pathology
    sink_compacted_parquet demonstrates for plain directories)."""
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    index_store.tfidf_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    # derive the deterministic per-corpus name — a listTables() prefix
    # match would grab an arbitrary generation when several corpora
    # have been exercised in one session
    name = index_store._table_name("tfidfinc", sf_dir, "11", "documents")
    t = index_store.compact_postings_table(spark, name)
    return (
        t.groupBy((F.col("doc_id") % 16).cast("bigint").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            dsum(F.col("weight"), 6).alias("w_sum"),
            dsum(F.col("idf"), 6).alias("idf_sum"),
        )
        .orderBy("g")
    )


@query(
    "index_lifecycle_end_to_end",
    oracle="""
    SELECT * FROM (VALUES
      ('append_then_serve', 1),
      ('compacted_serve_parity', 1),
      ('compaction_lossless', 1),
      ('live_compacted_kept', 1),
      ('live_generation_kept', 1),
      ('refreshed_generation_kept', 1),
      ('stale_compacted_dropped', 1),
      ('stale_generation_dropped', 1)
    ) t(probe, ok) ORDER BY probe
    """,
)
def index_lifecycle_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED index lifecycle on one corpus: build → serve →
    append → compact → GC, each transition probed — the piecewise
    proofs (index_incremental_tfidf_parity, index_compacted_tfidf_
    parity, index_gc_retention) each cover one step; this row catches
    CROSS-step regressions, specifically the janitor/compaction
    interaction: a compacted generation carries `<fp>_cmp`, and a GC
    that pattern-matches only bare fingerprints either leaks every
    dead `_cmp` forever or — after a regex 'fix' — drops a LIVE one
    (the fingerprint-rename hazard the index_store header warns
    about). Steps: (1) fit+append the incremental postings generation
    on a throwaway corpus copy (frozen vocab+idf, the sklearn
    fit/transform split); (2) serve a top-k through it; (3) compact to
    a fresh single-file-set generation and re-serve — scores must be
    IDENTICAL (same quantized arithmetic, same bucketed layout);
    (4) GC with the corpus live — both generations must survive;
    (5) refresh the corpus (snapshot-stat bump = new fingerprint),
    rebuild, GC again — the old generation AND its compacted twin must
    both be retired, catalog and warehouse location, while the rebuilt
    one serves on. Mirrors the reference's regenerate-and-swap
    ingest (/root/reference/data_extraction/clip/clip.ipynb cell 7)
    upgraded to fingerprint-governed generations."""
    import atexit
    import glob
    import os
    import shutil
    import tempfile
    import urllib.parse

    gcd = tempfile.mkdtemp(prefix="msrbd_lcq_")
    atexit.register(shutil.rmtree, gcd, ignore_errors=True)
    corpus = os.path.join(gcd, "documents.parquet")
    src = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, corpus)
    else:
        shutil.copy(src, corpus)

    # (1) build the base fit, append the delta under the frozen model
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, gcd, table="documents", id_col="doc_id"
    )
    index_store.tfidf_postings_incremental(spark, gcd, base_f, f"({d1}) OR ({d2})")
    gen_a = index_store._table_name("tfidfinc", gcd, "11", "documents")

    # (2) serve through the appended generation
    qterms = sparse.query_terms(QUERY_TEXT, (1, 1))
    served = sparse.tfidf_score(
        spark.table(gen_a), qterms, k=10, round_to=6
    ).collect()

    # (3) compact, then prove the rewrite lossless and serving-identical
    def postings_checksum(name: str):
        q = lambda c: F.sum(  # noqa: E731 — quantized exact sums
            F.floor(F.col(c) * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
        )
        return (
            spark.table(name)
            .agg(F.count(F.lit(1)).alias("n"), q("weight").alias("w"), q("idf").alias("i"))
            .collect()[0]
        )

    index_store.compact_postings_table(spark, gen_a)
    gen_a_cmp = f"{gen_a}_cmp"
    served_cmp = sparse.tfidf_score(
        spark.table(gen_a_cmp), qterms, k=10, round_to=6
    ).collect()
    lossless = postings_checksum(gen_a) == postings_checksum(gen_a_cmp)
    serve_parity = [(r["doc_id"], r["score"]) for r in served] == [
        (r["doc_id"], r["score"]) for r in served_cmp
    ]

    # (4) GC with the corpus still live: everything survives
    live = sorted(set([sf_dir, gcd] + glob.glob("/root/testdata/sf*")))
    dropped_live = index_store.gc_stale_index_tables(spark, live)
    live_kept = (
        gen_a not in dropped_live
        and spark.catalog.tableExists(gen_a)
    )
    live_cmp_kept = (
        gen_a_cmp not in dropped_live
        and spark.catalog.tableExists(gen_a_cmp)
    )

    # (5) corpus refresh (snapshot-stat bump = new fingerprint), rebuild,
    # GC: the stale generation AND its compacted twin retire together
    for root, _dirs, files in os.walk(corpus):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_001))
    if os.path.isfile(corpus):
        st = os.stat(corpus)
        os.utime(corpus, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_001))
    index_store.tfidf_postings(spark, gcd)
    gen_b = index_store._table_name("tfidf", gcd, "11", "documents")
    if gen_b.rsplit("_", 1)[-1] == gen_a.rsplit("_", 1)[-1]:
        # survives python -O (r10 hardening)
        raise AssertionError("refresh did not change the fingerprint")
    dropped_stale = index_store.gc_stale_index_tables(spark, live)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    base = urllib.parse.unquote(urllib.parse.urlparse(wh).path) or wh
    probes = {
        "append_then_serve": len(served) == 10,
        "compaction_lossless": bool(lossless),
        "compacted_serve_parity": bool(serve_parity),
        "live_generation_kept": live_kept,
        "live_compacted_kept": live_cmp_kept,
        "stale_generation_dropped": gen_a in dropped_stale
        and not spark.catalog.tableExists(gen_a)
        and not os.path.exists(os.path.join(base, gen_a)),
        "stale_compacted_dropped": gen_a_cmp in dropped_stale
        and not spark.catalog.tableExists(gen_a_cmp)
        and not os.path.exists(os.path.join(base, gen_a_cmp)),
        "refreshed_generation_kept": gen_b not in dropped_stale
        and spark.catalog.tableExists(gen_b),
    }
    rows = sorted((k, int(v)) for k, v in probes.items())
    return tables.local_frame(spark, rows, "probe STRING, ok INT")


@query(
    "monitor_text_oov_rate",
    oracle=r"""
    WITH t1 AS (SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v FROM documents),
    t2 AS (SELECT CAST(floor(max(doc_id) * 0.8) AS BIGINT) AS v FROM documents),
    btok AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS term
      FROM documents, t1 WHERE doc_id < t1.v
    ),
    vocab AS (SELECT DISTINCT term FROM btok),
    dtok AS (
      SELECT CASE WHEN d.doc_id < t2.v THEN 'delta1' ELSE 'delta2' END AS batch,
             unnest(regexp_extract_all(lower(d.text), '\w+')) AS term
      FROM documents d, t1, t2 WHERE d.doc_id >= t1.v
    ),
    j AS (
      SELECT d.batch, d.term, v.term AS known
      FROM dtok d LEFT JOIN vocab v USING (term)
    )
    SELECT batch,
           count(*) AS total_occurrences,
           CAST(SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_occurrences,
           SUM(CASE WHEN known IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS oov_rate
    FROM j GROUP BY batch ORDER BY batch
    """,
)
def monitor_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen-model RETRAIN GAUGE (sparse.oov_stats): for each
    incoming delta batch, the fraction of term occurrences the frozen
    vocabulary drops. transform_tfidf/-bm25 discard OOV terms by
    design (sklearn transform semantics); this query is the monitoring
    row a pipeline publishes with every append so 'refit the text
    model' is a measured decision, not a guess — the text sibling of
    ann recall grids (vector retrain trigger) and monitor_token_drift
    (corpus drift)."""
    docs = tables.load(spark, "documents", sf_dir)
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    model = sparse.fit_tfidf(docs.filter(base_f)).cache()
    out = None
    for label, flt in (("delta1", d1), ("delta2", d2)):
        st = sparse.oov_stats(docs.filter(flt), model)
        row = st.agg(
            F.sum("total_occurrences").cast("bigint").alias("total_occurrences"),
            F.sum("oov_occurrences").cast("bigint").alias("oov_occurrences"),
        ).select(
            F.lit(label).alias("batch"),
            "total_occurrences",
            "oov_occurrences",
            (
                F.col("oov_occurrences").cast("double")
                / F.col("total_occurrences").cast("double")
            ).alias("oov_rate"),
        )
        out = row if out is None else out.union(row)
    return out.orderBy("batch")


_MC_INC_CHANNELS = {"w": (1, 1), "b": (2, 2), "t": (3, 3)}


def _mc_inc_channel_ctes(c: str, g: int) -> str:
    """Base-model + base/delta posting CTEs for one channel (gram
    length g), namespaced `{c}`; expects t1 and the shared btoks/dtoks
    token-array CTEs."""
    return f"""
    {c}btok AS (
      SELECT doc_id, array_to_string(t[s:s+{g - 1}], ' ') AS term
      FROM btoks, pos WHERE s <= len(t) - {g} + 1
    ),
    {c}btf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM {c}btok GROUP BY 1, 2),
    {c}bdf AS (SELECT term, COUNT(*) AS df FROM {c}btf GROUP BY 1),
    {c}model AS (
      SELECT term, ln((1.0 + n.n) / (1.0 + d.df)) + 1.0 AS idf
      FROM {c}bdf d CROSS JOIN bn n
    ),
    {c}braw AS (
      SELECT f.doc_id, f.term, f.tf * m.idf AS w_raw, m.idf AS idf
      FROM {c}btf f JOIN {c}model m USING (term)
    ),
    {c}bnorm AS (SELECT doc_id, sqrt(SUM(w_raw * w_raw)) AS nrm FROM {c}braw GROUP BY 1),
    {c}bpost AS (
      SELECT '{c}' AS channel, r.term, r.doc_id, r.w_raw / s.nrm AS weight, r.idf
      FROM {c}braw r JOIN {c}bnorm s USING (doc_id)
    ),
    {c}dtok AS (
      SELECT doc_id, array_to_string(t[s:s+{g - 1}], ' ') AS term
      FROM dtoks, pos WHERE s <= len(t) - {g} + 1
    ),
    {c}dtf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM {c}dtok GROUP BY 1, 2),
    {c}draw AS (
      SELECT f.doc_id, f.term, f.tf * m.idf AS w_raw, m.idf AS idf
      FROM {c}dtf f JOIN {c}model m USING (term)
    ),
    {c}dnorm AS (SELECT doc_id, sqrt(SUM(w_raw * w_raw)) AS nrm FROM {c}draw GROUP BY 1),
    {c}dpost AS (
      SELECT '{c}' AS channel, r.term, r.doc_id, r.w_raw / s.nrm AS weight, r.idf
      FROM {c}draw r JOIN {c}dnorm s USING (doc_id)
    )"""


@query(
    "index_incremental_multichannel_parity",
    oracle=rf"""
    WITH t1 AS (SELECT CAST(floor(max(doc_id) * 0.6) AS BIGINT) AS v FROM documents),
    btoks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
      FROM documents, t1 WHERE doc_id < t1.v
    ),
    dtoks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
      FROM documents, t1 WHERE doc_id >= t1.v
    ),
    pos AS (
      SELECT CAST(unnest(range(1,
        (SELECT MAX(len(regexp_extract_all(lower(text), '\w+'))) FROM documents) + 1)) AS INT) AS s
    ),
    bn AS (SELECT COUNT(*) AS n FROM documents, t1 WHERE doc_id < t1.v),
    {",".join(_mc_inc_channel_ctes(c, g[0]) for c, g in _MC_INC_CHANNELS.items())},
    allp AS (
      {" UNION ALL ".join(
        f"SELECT * FROM {c}bpost UNION ALL SELECT * FROM {c}dpost"
        for c in _MC_INC_CHANNELS
      )}
    )
    SELECT channel, CAST(doc_id % 8 AS BIGINT) AS g, count(*) AS n_postings,
           {sql_dsum('weight', 6)} AS w_sum,
           {sql_dsum('idf', 6)} AS idf_sum
    FROM allp GROUP BY 1, 2 ORDER BY channel, g
    """,
)
def index_incremental_multichannel_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MULTICHANNEL index proof
    (index_store.multichannel_postings_incremental): all three n-gram
    channels fit from the base slice in one pass, the delta's postings
    for every channel computed in ONE pass under the frozen
    per-channel models (sparse.transform_tfidf_multichannel) and
    appended into the same term buckets. The oracle re-derives each
    channel's model and both posting sets from raw text — the
    reference's core 4-channel serving structure
    (object_retrieval.py:113-145 fits one vectorizer per channel over
    the whole corpus on every ingest) now grows by a single
    delta-pass append."""
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.multichannel_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})", _MC_INC_CHANNELS
    )
    return (
        t.groupBy("channel", (F.col("doc_id") % 8).cast("bigint").alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            dsum(F.col("weight"), 6).alias("w_sum"),
            dsum(F.col("idf"), 6).alias("idf_sum"),
        )
        .orderBy("channel", "g")
    )


# ---- pseudo-relevance feedback (RM3-style expansion) -----------------------

_PRF_Q = sparse.query_terms(QUERY_TEXT, (1, 1))
_PRF_EXCL = ", ".join(f"'{t}'" for t, _ in _PRF_Q)


@query(
    "sparse_prf_expansion_topk",
    oracle=f"""
    WITH {tfidf_cte('pf_', (1, 1), _PRF_Q)},
    fb AS (SELECT doc_id FROM pf_topk ORDER BY score DESC, doc_id LIMIT {sparse.PRF_N_FB}),
    expm AS (
      SELECT p.term,
             CAST(SUM(CAST(FLOOR(p.weight * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS mass
      FROM pf_post p JOIN fb USING (doc_id)
      WHERE p.term NOT IN ({_PRF_EXCL})
      GROUP BY 1
    ),
    expv AS (
      SELECT term, {sparse.PRF_BETA!r} * mass AS qw
      FROM expm ORDER BY mass DESC, term LIMIT {sparse.PRF_M_TERMS}
    ),
    cqv AS (SELECT term, qw FROM pf_qv UNION ALL SELECT term, qw FROM expv),
    rescored AS (
      SELECT p.doc_id,
             CAST(SUM(CAST(FLOOR(v.qw * p.weight * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM pf_post p JOIN cqv v USING (term)
      GROUP BY 1
    )
    SELECT doc_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM rescored ORDER BY score DESC, doc_id LIMIT 50
    """,
)
def sparse_prf_expansion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback TF-IDF search (sparse.tfidf_prf_search
    — RM3-style): initial top-10 docs elect 5 expansion terms by
    posting mass, and a combined original ∪ beta·expansion vector
    re-scores the corpus in one pass over the PERSISTED term-bucketed
    postings. The sparse twin of the reference's dense /feedback
    rerank (app.py; Q3). Election ties and both rankings are fully
    deterministic (quantized sums, term/doc_id ASC tiebreaks)."""
    postings = index_store.tfidf_postings(spark, sf_dir)
    return sparse.tfidf_prf_search(postings, _PRF_Q, k=50, round_to=6)
