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

Every lexical channel — word, n-gram, char, multichannel, batched,
BM25 — is the same kernel under different grouping keys, so each step
has one private spelling and the public functions compose them:

- `_query_weights`: query rows → L2-normalized (…, term, qw) vectors,
  one per key value (single query, channel or batch query_id);
- `_match`: the broadcast join of the query vector into the postings
  and the per-(key, doc) quantized-exact sum of qw·weight;
- `_topk`: the best k by (score DESC, doc_id ASC), globally or per
  key — the one place a scorer's k is checked;
- `_l2_postings`: sklearn's norm='l2' weighting, for every fit and
  transform; `_channel_term_counts` is the channel-tagged explode and
  `_bm25_postings` the BM25 saturation.

Scores are summed and rounded only through functions/rounding.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,
    quantized_sum,
)
from multi_search_retrival_big_data_spark.functions.text import (
    char_ngrams,
    tokenize,
    word_ngrams_range,
)
from multi_search_retrival_big_data_spark.operators.dense import restrict_ids
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
    widen (_channel_term_counts).
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


def _channel_term_counts(
    docs: DataFrame, channels: dict[str, tuple[int, int]], id_col: str, text_col: str
) -> DataFrame:
    """(channel, doc_id, term, tf) for ALL channels in one pass: the
    channel tag rides in the aggregation keys, so every channel shares
    one scan, one explode and one shuffle chain. The explode is ~5×
    wider than a single channel's, so the input is widened first."""
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
    return exploded.groupBy("channel", "doc_id", "term").agg(
        F.count("*").cast("double").alias("tf")
    )


def doc_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) — (doc_id, term) pairs are unique post-groupBy, so a
    plain count is the document frequency (no countDistinct shuffle)."""
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def _corpus_size(docs: DataFrame, id_col: str) -> DataFrame:
    """1-row (n) DataFrame kept lazy — broadcast-cross-joined into the
    plan instead of a driver-side collect."""
    return docs.agg(F.count(F.col(id_col)).alias("n"))


def _l2_postings(raw: DataFrame, keys: tuple[str, ...] = ()) -> DataFrame:
    """sklearn's norm='l2' weighting: (*keys, term, doc_id, tf, idf) →
    postings (*keys, term, doc_id, weight, idf) with
    weight = tf·idf / ||tf·idf||₂ over each (*keys, doc_id) vector.
    Fits and transforms differ only in where the idf comes from."""
    raw = raw.withColumn("w_raw", F.col("tf") * F.col("idf"))
    norms = raw.groupBy(*keys, "doc_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("__norm")
    )
    return raw.join(norms, [*keys, "doc_id"]).select(
        *keys,
        "term",
        "doc_id",
        (F.col("w_raw") / F.col("__norm")).alias("weight"),
        "idf",
    )


def _fit_l2_postings(
    tf: DataFrame, docs: DataFrame, id_col: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The TF-IDF fit over a (*keys, doc_id, term, tf) matrix: document
    frequencies per (*keys, term), smooth idf against the corpus size,
    then the L2 weighting."""
    on = [*keys, "term"]
    dfreq = tf.groupBy(*on).agg(F.count("*").alias("df"))
    raw = (
        tf.join(dfreq, on)
        .crossJoin(F.broadcast(_corpus_size(docs, id_col)))
        .withColumn(
            "idf",
            F.log((F.lit(1.0) + F.col("n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0),
        )
    )
    return _l2_postings(raw, keys)


def fit_tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    analyzer: str = "word",
) -> DataFrame:
    """S14 — build the sklearn-parity TF-IDF posting lists:
    (term, doc_id, weight, idf). Persist/bucket this by `term` for
    repeated querying; recompute cost is one pass over the corpus.

    Every scorer reads the postings twice (query-idf branch + match
    branch), so an in-plan fit that serves a scorer recomputes in both
    branches unless the caller `.cache()`s it. The production analogue
    is the persisted, term-bucketed index table
    (index_store.tfidf_postings)."""
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    return _fit_l2_postings(tf, docs, id_col)


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


def _query_weights(
    postings: DataFrame, rows: list[tuple], ddl: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """(*keys, term, qw) — L2-normalized TF-IDF query vectors in the
    corpus vector space, one per `keys` value, from driver rows
    (*keys, term, qtf). OOV query terms drop out (the fitted model
    defines the space).

    The idf comes from one lookup of the postings, joined on the
    columns the query and the postings share (term, and channel for
    multichannel postings). An isin filter (pushed into the scan)
    before the distinct keeps it a few-row lookup instead of a
    full-vocabulary de-duplication. The norm is a window sum over the
    request-sized rows, computed in the same pass as the weights: a
    separate norm aggregate would read the postings a second time and
    attach the scalar with another join."""
    q = tables.local_frame(postings.sparkSession, rows, ddl)
    on = [c for c in q.columns if c in postings.columns]
    idf = (
        postings.filter(F.col("term").isin(sorted({r[-2] for r in rows})))
        .select(*on, "idf")
        .distinct()
    )
    w = F.col("qtf") * F.col("idf")
    qnorm = F.sqrt(F.sum(w**2).over(Window.partitionBy(*keys)))
    return q.join(idf, on).select(*keys, "term", (w / qnorm).alias("qw"))


def query_vector(postings: DataFrame, qterms: list[tuple[str, int]]) -> DataFrame:
    """(term, qw) — the L2-normalized TF-IDF query vector in the
    corpus vector space. OOV query terms drop out (the fitted model
    defines the space). The idf lookup (a scan of the postings) runs
    once per request (_query_weights)."""
    return _query_weights(
        postings, [(t, float(c)) for t, c in qterms], "term STRING, qtf DOUBLE"
    )


def _match(
    postings: DataFrame,
    qv: DataFrame,
    weight_col: str,
    keys: tuple[str, ...] = (),
    round_to: int | None = None,
) -> DataFrame:
    """(*keys, doc_id, score) — Σ qw·weight over the matched terms.
    The query vector (request-sized) is broadcast into the postings on
    the columns both share; the postings side pays one term-bucketed
    join + one (*keys, doc_id) groupBy. The sum is quantized-exact, so
    the partial-aggregation order cannot change a bit."""
    on = [c for c in qv.columns if c in postings.columns]
    score = quantized_sum(F.col("qw") * F.col(weight_col))
    if round_to is not None:
        score = det_round(score, round_to)
    return (
        postings.join(F.broadcast(qv), on)
        .groupBy(*keys, "doc_id")
        .agg(score.alias("score"))
    )


def _topk(scored: DataFrame, k: int, by: tuple[str, ...] = ()) -> DataFrame:
    """The best k rows by (score DESC, doc_id ASC): one global sort +
    limit, or with `by` a row_number window per group — the windowed
    relation holds only query-matched candidates, not the corpus."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    order = (F.desc("score"), F.asc("doc_id"))
    if not by:
        return scored.orderBy(*order).limit(k)
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
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
    base = restrict_ids(postings, subset, "doc_id")
    return _topk(_match(base, qv, "weight", round_to=round_to), k)


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
    expansion = (
        restrict_ids(postings, F.broadcast(fb.select("doc_id")), "doc_id")
        .filter(~F.col("term").isin(orig_terms))
        .groupBy("term")
        .agg(quantized_sum(F.col("weight")).alias("__mass"))
        .orderBy(F.desc("__mass"), F.asc("term"))
        .limit(m_terms)
        .select("term", (F.lit(float(beta)) * F.col("__mass")).alias("qw"))
    )
    combined = query_vector(postings, qterms).unionByName(expansion)
    return score_vector(postings, combined, k, round_to=round_to)


def _bm25_postings(
    tf: DataFrame, idf: DataFrame, avgdl: DataFrame, k1: float, b: float
) -> DataFrame:
    """(term, doc_id, score_w) — the BM25 saturation of each tf under a
    (term, idf) model and the 1-row avgdl; each doc's own length dl
    enters the denominator."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return (
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


def fit_bm25(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_range: tuple[int, int] = (1, 1),
    k1: float = BM25_K1,
    b: float = BM25_B,
    epsilon: float = BM25_EPSILON,
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
    return _bm25_postings(tf, idf, avgdl, k1, b)


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
    # term_counts normalizes the id column to "doc_id"; rename back out
    tf = term_counts(docs, id_col, text_col, ngram_range)
    return _bm25_postings(tf, idf_model, avgdl, k1, b).withColumnRenamed("doc_id", id_col)


def bm25_score(
    bm25_postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Score = Σ_t qtf(t) · score_w(t, doc) over matched terms.
    (BM25Okapi.get_scores counts each query occurrence — bm25.py:99.)
    The query weight is the raw term count: no idf lookup, no norm."""
    qv = tables.local_frame(
        bm25_postings.sparkSession,
        [(t, float(c)) for t, c in qterms],
        "term STRING, qw DOUBLE",
    )
    base = restrict_ids(bm25_postings, subset, "doc_id")
    return _topk(_match(base, qv, "score_w", round_to=round_to), k)


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
    tf = _channel_term_counts(docs, channels, id_col, text_col)
    return _fit_l2_postings(tf, docs, id_col, ("channel",))


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
    _query_weights)."""
    qv = _query_weights(
        postings,
        [(ch, t, float(c)) for ch, terms in channel_qterms.items() for t, c in terms],
        "channel STRING, term STRING, qtf DOUBLE",
        ("channel",),
    )
    scored = _match(postings, qv, "weight", ("channel",), round_to)
    topk = _topk(scored, k_per_channel, by=("channel",))
    wmm = Window.partitionBy("channel")
    normed = topk.select(
        "doc_id",
        (
            (F.col("score") - F.min("score").over(wmm))
            / (F.max("score").over(wmm) - F.min("score").over(wmm) + F.lit(1e-6))
        ).alias("score"),
    )
    fused = quantized_sum(F.col("score"))
    if round_to is not None:
        fused = det_round(fused, round_to)
    return _topk(normed.groupBy("doc_id").agg(fused.alias("score")), k)


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
    the broadcast query side carries (query_id, term, qw). Each
    query's norm is a window sum partitioned by query_id, so the idf
    lookup is the batch's only other postings read.

    Returns (query_id, doc_id, score)."""
    qv = _query_weights(
        postings,
        [(qid, t, float(c)) for qid, terms in batch_qterms.items() for t, c in terms],
        "query_id INT, term STRING, qtf DOUBLE",
        ("query_id",),
    )
    scored = _match(postings, qv, "weight", ("query_id",), round_to)
    return _topk(scored, k, by=("query_id",)).orderBy(
        "query_id", F.desc("score"), F.asc("doc_id")
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
    # group/join on that and rename back out, so a non-default id_col
    # works
    tf = term_counts(docs, id_col, text_col, ngram_range, analyzer)
    model = model_postings.select("term", "idf").distinct()
    return _l2_postings(tf.join(model, "term")).withColumnRenamed("doc_id", id_col)


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
    tf = _channel_term_counts(docs, channels, id_col, text_col)
    model = model_postings.select("channel", "term", "idf").distinct()
    return _l2_postings(tf.join(model, ["channel", "term"]), ("channel",))
