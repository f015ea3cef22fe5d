"""Sparse (lexical) retrieval — S14/S15 index build + Q4/Q5/Q6 scoring.

The reference stores one sklearn `TfidfVectorizer` + CSR doc-term
matrix per channel and scores queries with a CSR dot product
(utils/object_retrieval_engine/object_retrieval.py:221-255, 303-325;
utils/ocr_retrieval_engine/ocr_retrieval.py:27-77;
utils/semantic_embed/speech_retrieval.py:56-131). The Spark-native
equivalent is a **posting-list inverted index** — a DataFrame
`(term, doc_id, weight)` — because:

- it IS the sparse representation: the q·Mᵀ CSR dot product becomes
  `query_terms ⋈ postings ON term → groupBy(doc_id).sum(qw·w)`,
  touching exactly the nnz entries of matched terms (never densified);
- at 100 TB it shards naturally: bucket postings by `term` and the
  scoring join co-locates without a shuffle of the index; the query
  side is a handful of rows, always broadcast;
- the aggregation is partial (map-side combine), so per-executor
  traffic is ~|matched docs|, not |postings|.

Weighting replicates sklearn's defaults for score parity with the
reference (SURVEY.md §4 "needs custom work" item 1):
    tf      = raw term count in doc
    idf     = ln((1+N)/(1+df)) + 1          (smooth_idf=True)
    w_raw   = tf · idf
    weight  = w_raw / ||w_raw||₂ over the doc   (norm='l2')
Query vectors get the same treatment with the *corpus* idf, so the
score is the exact TF-IDF cosine sklearn produces.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.text import (
    char_ngrams,
    tokenize,
    word_ngrams_range,
)
from multi_search_retrival_big_data_spark.partitioning import ensure_min_partitions

TOKEN_RE = re.compile(r"\w+")

# rank_bm25.BM25Okapi defaults, the reference's legacy scorer
# (utils/object_retrieval_engine/bm25.py:24-57)
BM25_K1 = 1.5
BM25_B = 0.75
BM25_EPSILON = 0.25


def _terms_col(
    text_col: str, ngram_range: tuple[int, int], analyzer: str = "word"
) -> Column:
    if analyzer == "char":
        # the reference's empty-vocabulary fallback channel: sklearn
        # re-fits with analyzer='char_wb' when the word vocabulary
        # comes out empty (object_retrieval.py:79-89); approximated as
        # plain char n-grams of the lowercased text (functions/text.py)
        return char_ngrams(F.col(text_col), ngram_range[0], ngram_range[1])
    toks = tokenize(F.col(text_col))
    if ngram_range == (1, 1):
        return toks
    return word_ngrams_range(toks, ngram_range[0], ngram_range[1])


def term_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """(doc_id, term, tf) — the raw doc-term matrix in COO form.

    No partition widening here: single-channel (1,1) explodes are
    cheap enough that the extra round-robin shuffle (paid once per
    plan branch) costs more than the parallelism buys — measured at
    sf0.1. The multichannel fit, whose explode is ~5× wider, does
    widen (fit_tfidf_multichannel).
    """
    # the char analyzer explodes ~(n_max - n_min + 1)·len(text) terms
    # per doc — widen the (often single-row-group) input so the explode
    # parallelizes; the word path stays as measured (see docstring)
    src = ensure_min_partitions(docs) if analyzer == "char" else docs
    return (
        src.select(
            F.col(id_col).alias("doc_id"),
            _terms_col(text_col, ngram_range, analyzer).alias("__terms"),
        )
        .select("doc_id", F.explode("__terms").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) — (doc_id, term) pairs are unique post-groupBy, so a
    plain count is the document frequency (no countDistinct shuffle)."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def _corpus_size(docs: DataFrame, id_col: str) -> DataFrame:
    """1-row (n) DataFrame kept lazy — broadcast-cross-joined into the
    plan instead of a driver-side collect."""
    return docs.agg(F.count(F.col(id_col)).alias("n"))


def fit_tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    cache: bool = False,
    analyzer: str = "word",
) -> DataFrame:
    """S14 — build the sklearn-parity TF-IDF posting lists:
    (term, doc_id, weight, idf). Persist/bucket this by `term` for
    repeated querying; recompute cost is one pass over the corpus.

    cache=True marks the result for in-memory reuse: every scorer
    consumes postings TWICE (query-idf branch + match branch), and
    without materialization both branches recompute the fit. The
    production analogue is the persisted, term-bucketed index table
    (index_store.tfidf_postings)."""
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    dfreq = doc_frequencies(tf)
    n = _corpus_size(docs, id_col)
    raw = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("idf", F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0))
        .withColumn("w_raw", F.col("tf") * F.col("idf"))
    )
    norms = raw.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm"))
    out = (
        raw.join(norms, "doc_id")
        .select(
            "term",
            "doc_id",
            (F.col("w_raw") / F.col("__norm")).alias("weight"),
            "idf",
        )
    )
    return out.cache() if cache else out


def query_terms(
    query: str, ngram_range: tuple[int, int] = (1, 1), analyzer: str = "word"
) -> list[tuple[str, int]]:
    """Driver-side query compilation (the reference encodes queries on
    the serving thread too — object_retrieval.py:303-311): lowercase,
    `\\w+` tokens, optional word n-grams, term counts. analyzer='char'
    mirrors _terms_col's char-n-gram fallback channel."""
    if analyzer == "char":
        s = query.lower()
        grams = [
            s[i : i + n]
            for n in range(ngram_range[0], ngram_range[1] + 1)
            for i in range(len(s) - n + 1)
        ]
        return sorted(Counter(grams).items())
    toks = TOKEN_RE.findall(query.lower())
    grams: list[str] = []
    for nlen in range(ngram_range[0], ngram_range[1] + 1):
        grams += [" ".join(toks[i : i + nlen]) for i in range(len(toks) - nlen + 1)]
    return sorted(Counter(grams).items())


def query_vector(postings: DataFrame, qterms: list[tuple[str, int]]) -> DataFrame:
    """(term, qw) — the L2-normalized TF-IDF query vector in the
    corpus vector space. OOV query terms drop out (the fitted model
    defines the space).

    The query norm is a window sum over the request-sized (term, idf)
    rows, computed in the same pass as the weights: the idf lookup
    (a scan of the postings) runs once per request. A separate 1-row
    norm aggregate would read `qv` a second time — a second postings
    scan plus a nested-loop join to attach the scalar."""
    q = tables.local_frame(
        postings.sparkSession, [(t, float(c)) for t, c in qterms], "term STRING, qtf DOUBLE"
    )
    # idf is only needed for the query's own terms — an isin filter
    # (pushed into the scan) before the distinct keeps this a
    # few-row lookup instead of a full-vocabulary de-duplication
    idf = (
        postings.filter(F.col("term").isin([t for t, _ in qterms]))
        .select("term", "idf")
        .distinct()
    )
    qnorm = F.sqrt(F.sum((F.col("qtf") * F.col("idf")) ** 2).over(Window.partitionBy()))
    return q.join(idf, "term").select(
        "term", ((F.col("qtf") * F.col("idf")) / qnorm).alias("qw")
    )


def score_vector(
    postings: DataFrame,
    qv: DataFrame,
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Score docs against ANY (term, qw) query-vector DataFrame —
    literal-compiled (query_vector) or plan-derived (PRF expansion).
    The vector side is broadcast (request-sized); the postings side
    pays one term-bucketed join + one doc_id groupBy."""
    base = postings
    if subset is not None:
        base = base.join(
            subset.select(F.col(subset.columns[0]).alias("doc_id")), "doc_id", "left_semi"
        )
    # exact order-independent accumulation (see queries/common.dsum)
    addend = F.col("qw") * F.col("weight")
    score = (
        F.sum(F.floor(addend * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e12)
    )
    if round_to is not None:
        score = F.floor(score * F.lit(float(10 ** round_to)) + F.lit(0.5)).cast("double") / F.lit(
            float(10 ** round_to)
        )
    scored = (
        base.join(F.broadcast(qv), "term")
        .groupBy("doc_id")
        .agg(score.alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def tfidf_score(
    postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q4/Q5 — score docs against a compiled query: the CSR q·Mᵀ dot
    re-expressed as an inverted-index join. Returns (doc_id, score)
    top-k, `score` = TF-IDF cosine.

    The subset path (`M[index,:]` row-slice in the reference,
    object_retrieval.py:320-323) is a semi-join applied *before*
    aggregation, so non-candidate postings never reach the shuffle."""
    return score_vector(postings, query_vector(postings, qterms), k, subset, round_to)


PRF_N_FB = 10  # feedback depth: docs assumed relevant
PRF_M_TERMS = 5  # expansion terms added to the query
PRF_BETA = 0.4  # expansion weight vs the original query vector


def tfidf_prf_search(
    postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    n_fb: int = PRF_N_FB,
    m_terms: int = PRF_M_TERMS,
    beta: float = PRF_BETA,
    round_to: int | None = None,
) -> DataFrame:
    """Pseudo-relevance feedback retrieval (RM3-style, Lavrenko &
    Croft 2001 relevance models; the Rocchio-family expansion the
    reference applies on the DENSE side via /feedback —
    app.py /feedback + faiss_processing.py re-query — transplanted to
    the sparse channel): (1) initial TF-IDF pass, (2) treat the top
    n_fb docs as relevant and pick the m_terms highest-mass terms from
    their postings (summed normalized weight, quantized-exact, ties →
    term ASC; original query terms excluded), (3) one re-scoring pass
    with the combined vector original ∪ beta·expansion.

    Scale shape: the feedback-doc semi-join broadcasts n_fb ids into
    the term-bucketed postings scan; term election aggregates only the
    feedback docs' postings (≤ n_fb rows per term); the re-score is the
    same single broadcast-vector pass as every other sparse query. Two
    passes over the index, zero corpus shuffles beyond the scorer's
    own doc_id groupBy."""
    fb = tfidf_score(postings, qterms, n_fb, round_to=round_to)
    orig_terms = [t for t, _ in qterms]
    mass = (
        F.sum(
            F.floor(F.col("weight") * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
        ).cast("double")
        / F.lit(1e12)
    )
    expansion = (
        postings.join(F.broadcast(fb.select("doc_id")), "doc_id", "left_semi")
        .filter(~F.col("term").isin(orig_terms))
        .groupBy("term")
        .agg(mass.alias("__mass"))
        .orderBy(F.desc("__mass"), F.asc("term"))
        .limit(m_terms)
        .select("term", (F.lit(float(beta)) * F.col("__mass")).alias("qw"))
    )
    combined = query_vector(postings, qterms).unionByName(expansion)
    return score_vector(postings, combined, k, round_to=round_to)


def fit_bm25(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    k1: float = BM25_K1,
    b: float = BM25_B,
    epsilon: float = BM25_EPSILON,
    cache: bool = False,
) -> DataFrame:
    """S15 — BM25Okapi posting lists (term, doc_id, score_w) where
    score_w is the full per-term BM25 contribution for tf in that doc;
    query scoring is then Σ over query terms (bm25.py:80-109 scores
    whole-corpus per query the same way).

    Okapi idf = ln((N - df + 0.5)/(df + 0.5)); rank_bm25 floors
    negative idf (common terms, df > N/2) to epsilon · avg(idf) —
    replicated here as a conditional against the vocabulary average."""
    tf = term_counts(docs, id_col, text_col, ngram_range)
    idf, avgdl = bm25_model(tf, docs, id_col, epsilon)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    out = (
        tf.join(idf, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "term",
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (1 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score_w"),
        )
    )
    return out.cache() if cache else out


def bm25_model(
    tf: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    epsilon: float = BM25_EPSILON,
) -> tuple[DataFrame, DataFrame]:
    """The BM25 MODEL — (idf(term, idf), avgdl 1-row) — factored out
    of fit_bm25 so the incremental append path can freeze it: Okapi
    idf with rank_bm25's epsilon·avg(idf) floor for common terms, and
    the corpus average document length. Both are corpus statistics —
    the text-side train/add boundary (see transform_bm25)."""
    dfreq = doc_frequencies(tf)
    n = _corpus_size(docs, id_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    idf = dfreq.crossJoin(F.broadcast(n)).withColumn(
        "idf_raw",
        F.log((F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))),
    )
    avg_idf = idf.agg(F.avg("idf_raw").alias("avg_idf"))
    idf = idf.crossJoin(F.broadcast(avg_idf)).select(
        "term",
        F.when(F.col("idf_raw") < 0, F.lit(epsilon) * F.col("avg_idf"))
        .otherwise(F.col("idf_raw"))
        .alias("idf"),
    )
    return idf, avgdl


def transform_bm25(
    docs: DataFrame,
    idf_model: DataFrame,
    avgdl: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25's transform half: weight NEW documents under a FROZEN
    model — the (term, idf) table (vocabulary + floored Okapi idf) and
    the 1-row avgdl. Out-of-vocabulary terms drop; each delta doc's
    own length enters the saturation denominator but the corpus
    statistics stay frozen (dl is per-row state, avgdl/idf are model
    state — the same split transform_tfidf makes). Returns rows in the
    (term, doc_id, score_w) posting schema, ready to append."""
    # term_counts normalizes the id column to "doc_id"; alias back out
    tf = term_counts(docs, id_col, text_col, ngram_range)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return (
        tf.join(idf_model, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .select(
            "term",
            F.col("doc_id").alias(id_col),
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1) * (1 - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score_w"),
        )
    )


def bm25_score(
    bm25_postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Score = Σ_t qtf(t) · score_w(t, doc) over matched terms.
    (BM25Okapi.get_scores counts each query occurrence — bm25.py:99.)"""
    q = tables.local_frame(
        bm25_postings.sparkSession,
        [(t, float(c)) for t, c in qterms],
        "term STRING, qtf DOUBLE",
    )
    base = bm25_postings
    if subset is not None:
        base = base.join(
            subset.select(F.col(subset.columns[0]).alias("doc_id")), "doc_id", "left_semi"
        )
    addend = F.col("qtf") * F.col("score_w")
    score = (
        F.sum(F.floor(addend * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e12)
    )
    if round_to is not None:
        score = F.floor(score * F.lit(float(10 ** round_to)) + F.lit(0.5)).cast("double") / F.lit(
            float(10 ** round_to)
        )
    scored = base.join(F.broadcast(q), "term").groupBy("doc_id").agg(score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def fit_tfidf_multichannel(
    docs: DataFrame,
    channels: dict[str, tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """S14 for ALL channels in ONE pass: posting lists
    (channel, term, doc_id, weight, idf).

    The reference fits one TfidfVectorizer per channel over separate
    corpus files (object_retrieval.py:113-145); the driver corpus gives
    every channel the same text under a different n-gram view. Fitting
    them independently costs C × (scan + 3 shuffles); here the channel
    tag rides in the aggregation keys, so ALL channels share one scan,
    one explode, and one shuffle chain — the shuffles are bigger but
    map-side partial aggregation keeps the traffic ≈ Σ per-channel nnz,
    and the downstream multi-channel query becomes a single linear plan
    instead of C recomputed branches."""
    toks = tokenize(F.col(text_col))

    def _tag(name: str):
        # closure factory: a 2-parameter lambda would make F.transform
        # pass the ARRAY INDEX as the second argument
        return lambda t: F.struct(F.lit(name).alias("channel"), t.alias("term"))

    tagged = []
    for name, ngr in channels.items():
        terms = toks if ngr == (1, 1) else word_ngrams_range(toks, ngr[0], ngr[1])
        tagged.append(F.transform(terms, _tag(name)))
    exploded = (
        ensure_min_partitions(docs)
        .select(F.col(id_col).alias("doc_id"), F.explode(F.flatten(F.array(*tagged))).alias("e"))
        .select("doc_id", "e.channel", "e.term")
    )
    tf = exploded.groupBy("channel", "doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tf.groupBy("channel", "term").agg(F.count("*").alias("df"))
    n = _corpus_size(docs, id_col)
    raw = (
        tf.join(dfreq, ["channel", "term"])
        .crossJoin(F.broadcast(n))
        .withColumn(
            "idf",
            F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0),
        )
        .withColumn("w_raw", F.col("tf") * F.col("idf"))
    )
    norms = raw.groupBy("channel", "doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, ["channel", "doc_id"]).select(
        "channel",
        "term",
        "doc_id",
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )


def multichannel_tfidf_score(
    postings: DataFrame,
    channel_qterms: dict[str, list[tuple[str, int]]],
    k_per_channel: int,
    k: int,
    round_to: int | None = None,
) -> DataFrame:
    """Q6/Q7 — multi-channel context search as ONE linear plan:
    per-channel TF-IDF cosine → per-channel top-k → min-max normalize
    → additive fusion (Q8) → global top-k. Returns (doc_id, score).

    Replaces C independent score+fuse branches (each recomputing its
    fit) with shared shuffles keyed by channel. Per-channel top-k is a
    row_number window partitioned by channel — the windowed relation
    holds only query-matched candidates, not the corpus. Each channel's
    query norm is a window sum over the request-sized (channel, term,
    idf) rows, so the idf lookup scans the postings once (see
    query_vector)."""
    q = tables.local_frame(
        postings.sparkSession,
        [
            (ch, t, float(c))
            for ch, terms in channel_qterms.items()
            for t, c in terms
        ],
        "channel STRING, term STRING, qtf DOUBLE",
    )
    all_terms = sorted({t for terms in channel_qterms.values() for t, _ in terms})
    idf = (
        postings.filter(F.col("term").isin(all_terms))
        .select("channel", "term", "idf")
        .distinct()
    )
    qnorm = F.sqrt(
        F.sum((F.col("qtf") * F.col("idf")) ** 2).over(Window.partitionBy("channel"))
    )
    qv = q.join(idf, ["channel", "term"]).select(
        "channel", "term", ((F.col("qtf") * F.col("idf")) / qnorm).alias("qw")
    )
    addend = F.col("qw") * F.col("weight")
    score = (
        F.sum(F.floor(addend * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e12)
    )
    if round_to is not None:
        m6 = F.lit(float(10 ** round_to))
        score = F.floor(score * m6 + F.lit(0.5)).cast("double") / m6
    scored = (
        postings.join(F.broadcast(qv), ["channel", "term"])
        .groupBy("channel", "doc_id")
        .agg(score.alias("score"))
    )
    wk = Window.partitionBy("channel").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = scored.withColumn("__rn", F.row_number().over(wk)).filter(
        F.col("__rn") <= k_per_channel
    )
    wmm = Window.partitionBy("channel")
    normed = topk.select(
        "doc_id",
        (
            (F.col("score") - F.min("score").over(wmm))
            / (F.max("score").over(wmm) - F.min("score").over(wmm) + F.lit(1e-6))
        ).alias("score"),
    )
    fused = (
        F.sum(F.floor(F.col("score") * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast(
            "double"
        )
        / F.lit(1e12)
    )
    if round_to is not None:
        m6 = F.lit(float(10 ** round_to))
        fused = F.floor(fused * m6 + F.lit(0.5)).cast("double") / m6
    out = normed.groupBy("doc_id").agg(fused.alias("score"))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def batch_tfidf_score(
    postings: DataFrame,
    batch_qterms: dict[int, list[tuple[str, int]]],
    k: int,
    round_to: int | None = None,
) -> DataFrame:
    """Multi-query batched sparse scoring: every query's terms join the
    posting index in ONE pass; per-query top-k via a partitioned
    window. The sparse analogue of dense.batch_topk_cosine — at scale
    the index is read once per batch instead of once per query, and
    the broadcast query side carries (query_id, term, qw).

    Returns (query_id, doc_id, score)."""
    q = tables.local_frame(
        postings.sparkSession,
        [(qid, t, float(c)) for qid, terms in batch_qterms.items() for t, c in terms],
        "query_id INT, term STRING, qtf DOUBLE",
    )
    all_terms = sorted({t for terms in batch_qterms.values() for t, _ in terms})
    idf = (
        postings.filter(F.col("term").isin(all_terms))
        .select("term", "idf")
        .distinct()
    )
    qv = q.join(idf, "term")
    qnorm = qv.groupBy("query_id").agg(
        F.sqrt(F.sum((F.col("qtf") * F.col("idf")) ** 2)).alias("__qnorm")
    )
    qv = qv.join(qnorm, "query_id").select(
        "query_id", "term", ((F.col("qtf") * F.col("idf")) / F.col("__qnorm")).alias("qw")
    )
    addend = F.col("qw") * F.col("weight")
    score = (
        F.sum(F.floor(addend * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
        / F.lit(1e12)
    )
    if round_to is not None:
        m = F.lit(float(10 ** round_to))
        score = F.floor(score * m + F.lit(0.5)).cast("double") / m
    scored = (
        postings.join(F.broadcast(qv), "term")
        .groupBy("query_id", "doc_id")
        .agg(score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def transform_tfidf(
    docs: DataFrame,
    model_postings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """sklearn's fit/transform SPLIT for the TF-IDF index: weight NEW
    documents under the FROZEN model carried by an existing posting
    table — (term, idf) pairs are the model (vocabulary + idf), terms
    outside the fitted vocabulary are DROPPED (exactly
    TfidfVectorizer.transform), and each new doc L2-normalizes over
    its surviving terms. Returns rows in the posting schema
    (term, doc_id, weight, idf), ready to APPEND to the persisted
    index.

    This is how a text search index grows at 100 TB: appends are a
    pass over the DELTA only (tf explode + one broadcast-sized join
    against the distinct (term, idf) model + a per-doc norm agg —
    never a corpus refit). What appends do NOT refresh: idf itself —
    document frequencies are corpus statistics, exactly FAISS's
    train/add boundary transplanted to text; after heavy drift the
    index is refit offline and swapped (index_store generations +
    gc_stale_index_tables)."""
    # term_counts normalizes the id column to "doc_id" internally —
    # group/join on that and alias back out, so a non-default id_col
    # works (the multichannel transform already does this)
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    model = model_postings.select("term", "idf").distinct()
    raw = tf.join(model, "term").withColumn(
        "w_raw", F.col("tf") * F.col("idf")
    )
    norms = raw.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, "doc_id").select(
        "term",
        F.col("doc_id").alias(id_col),
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )


def oov_stats(
    docs: DataFrame,
    model_postings: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """The retrain gauge for the frozen text model: per document, how
    many term OCCURRENCES the frozen vocabulary would drop
    (transform_tfidf/-bm25 silently discard out-of-vocabulary terms —
    correct sklearn semantics, but at some drift level the model must
    be refit; this is the number that says when). Returns
    (id, total_occurrences, oov_occurrences, oov_rate). One delta-side
    tf pass + a left join against the vocabulary — the same cost shape
    as the transform itself, so a pipeline can emit the gauge for free
    alongside every append. Aggregate per batch and alert on a
    threshold; the drift sibling of monitor_token_drift."""
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    vocab = model_postings.select("term").distinct().withColumn(
        "__known", F.lit(1)
    )
    per_doc = (
        tf.join(vocab, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("total_occurrences"),
            F.sum(F.when(F.col("__known").isNull(), F.col("tf")).otherwise(F.lit(0.0)))
            .cast("bigint")
            .alias("oov_occurrences"),
        )
    )
    return per_doc.select(
        F.col("doc_id").alias(id_col),
        "total_occurrences",
        "oov_occurrences",
        (
            F.col("oov_occurrences").cast("double")
            / F.col("total_occurrences").cast("double")
        ).alias("oov_rate"),
    )


def transform_tfidf_multichannel(
    docs: DataFrame,
    model_postings: DataFrame,
    channels: dict[str, tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The multichannel transform half: weight NEW documents for ALL
    channels in ONE pass under the FROZEN per-channel models carried
    by an existing multichannel posting table — (channel, term, idf)
    is the model, out-of-channel-vocabulary terms drop, and each
    (channel, doc) pair L2-normalizes over its surviving terms. Same
    single-plan shape as fit_tfidf_multichannel (one scan, one
    explode, channel tag in the aggregation keys), so appending C
    channels costs one delta pass, not C."""
    toks = tokenize(F.col(text_col))

    def _tag(name: str):
        return lambda t: F.struct(F.lit(name).alias("channel"), t.alias("term"))

    tagged = []
    for name, ngr in channels.items():
        terms = toks if ngr == (1, 1) else word_ngrams_range(toks, ngr[0], ngr[1])
        tagged.append(F.transform(terms, _tag(name)))
    exploded = (
        ensure_min_partitions(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.flatten(F.array(*tagged))).alias("e"),
        )
        .select("doc_id", "e.channel", "e.term")
    )
    tf = exploded.groupBy("channel", "doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )
    model = model_postings.select("channel", "term", "idf").distinct()
    raw = tf.join(model, ["channel", "term"]).withColumn(
        "w_raw", F.col("tf") * F.col("idf")
    )
    norms = raw.groupBy("channel", "doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, ["channel", "doc_id"]).select(
        "channel",
        "term",
        "doc_id",
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )
