"""Sparse (lexical) retrieval — S14/S15 index build + Q4/Q5/Q6 scoring.

The reference stores one sklearn `TfidfVectorizer` + CSR doc-term
matrix per channel and scores queries with a CSR dot product
(utils/object_retrieval_engine/object_retrieval.py:221-255, 303-325;
utils/ocr_retrieval_engine/ocr_retrieval.py:27-77;
utils/semantic_embed/speech_retrieval.py:56-131). The Spark-native
equivalent is a **posting-list inverted index** — a DataFrame
`(term, doc_id, weight)` — because:

- it IS the sparse representation: the q·Mᵀ CSR dot product becomes
  `postings WHERE term IN q → groupBy(doc_id).sum(qw·w)`, touching
  exactly the nnz entries of matched terms (never densified);
- the query is request-sized, so its weights are computed in the
  driver (as the reference does on its serving thread) and enter the
  plan as one constant-folded literal map: no join, no broadcast and
  no window on the query side;
- at 100 TB it shards naturally: postings are bucketed by `term`, so
  the `term IN (…)` filter prunes the scan to the query's buckets;
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

- `_query_weights`: driver query rows → L2-normalized (…, term, qw)
  rows, one vector per key value (single query, channel or batch
  query_id), from one bucket-pruned idf lookup of the postings;
- `_match`: the `term IN (…)`-filtered postings times qw from one
  literal map, and the per-(key, doc) quantized-exact sum of
  qw·weight;
- `_topk`: the best k by (score DESC, doc_id ASC), globally or per
  key — the one place a scorer's k is checked;
- `_l2_postings`: sklearn's norm='l2' weighting, for every fit and
  transform; `_channel_term_counts` is the channel-tagged explode and
  `_bm25_postings` the BM25 saturation.

Scores are summed and rounded only through functions/rounding.
"""

from __future__ import annotations

import json
import math
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
QV_DDL = "term STRING, qw DOUBLE"  # a single query's (term, qw) rows

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

    Every TF-IDF scorer reads the postings in two actions (the
    driver's idf lookup, then the match), so an in-plan fit that
    serves a scorer is computed twice unless the caller `.cache()`s
    it. The production analogue
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
    postings: DataFrame, rows: list[tuple], keys: tuple[str, ...] = ()
) -> list[tuple]:
    """(*keys, term, qw) — L2-normalized TF-IDF query vectors in the
    corpus vector space, one per `keys` value, from driver rows
    (*keys, term, qtf). OOV query terms drop out (the fitted model
    defines the space).

    The query is request-sized, so its weights are computed here in
    the driver (the reference encodes queries on the serving thread,
    object_retrieval.py:303-311). The idf of its terms comes from one
    global `collect_set(struct(*on, idf))` over the `term`-filtered
    postings, `on` being the columns query and postings share (term,
    and channel for multichannel postings). The aggregate has no
    grouping key, so nothing needs the term clustering and Spark reads
    the pruned buckets' files as a plain scan: a 1–2 task job, where a
    bucketed scan runs one task per bucket even when pruning selects a
    few. Each key's qw = qtf·idf / sqrt(Σ (qtf·idf)²) is the same IEEE
    multiply, sum (in row order), sqrt and divide as the Catalyst
    expression it replaces. An empty query runs no job."""
    terms = sorted({r[-2] for r in rows})
    if not terms:
        return []
    on = [c for c in (*keys, "term") if c in postings.columns]
    found = (
        postings.filter(F.col("term").isin(terms))
        .agg(F.collect_set(F.struct(*on, "idf")))
        .first()[0]
    )
    idf = {tuple(r[:-1]): r[-1] for r in found}
    vecs: dict[tuple, list[tuple[str, float]]] = {}
    for *kv, term, qtf in rows:
        at = tuple(v for c, v in zip(keys, kv) if c in on) + (term,)
        if at in idf:
            vecs.setdefault(tuple(kv), []).append((term, qtf * idf[at]))
    out = []
    for kv, tw in vecs.items():
        norm = math.sqrt(sum(w * w for _, w in tw))
        out += [(*kv, t, w / norm) for t, w in tw]
    return out


def query_vector(postings: DataFrame, qterms: list[tuple[str, int]]) -> DataFrame:
    """(term, qw) — the L2-normalized TF-IDF query vector in the
    corpus vector space, as a driver-built LocalTableScan. OOV query
    terms drop out (the fitted model defines the space). The idf
    lookup is one small job per request (_query_weights)."""
    return tables.local_frame(
        postings.sparkSession,
        _query_weights(postings, [(t, float(c)) for t, c in qterms]),
        QV_DDL,
    )


def _match(
    postings: DataFrame,
    qv: list[tuple],
    ddl: str,
    weight_col: str,
    keys: tuple[str, ...] = (),
    round_to: int | None = None,
) -> DataFrame:
    """(*keys, doc_id, score) — Σ qw·weight over the matched terms, for
    driver rows `qv` (*keys, term, qw) typed by `ddl`.

    The postings are filtered with `term IN (…)` (bucket pruning plus a
    Parquet pushdown) and each row takes its qw from ONE constant-folded
    literal, `from_json(lit(json), map<…>)`: term → qw, nested under a
    map level per key the postings carry (channel), with keys they do
    not carry (a batch's query_id) as an exploded array<struct> value.
    No join, broadcast or window: the only exchange is the
    (*keys, doc_id) groupBy, which needs no term clustering, so the
    scan is not a bucketed scan and runs on the pruned buckets' files
    alone. (The one literal matters: a struct-keyed `create_map` of
    per-term Columns costs a py4j round trip per term.) The sum is
    quantized-exact, so the partial-aggregation order cannot change a
    bit. An empty `qv` (an empty or all-OOV query) gives an empty plan
    that runs no job."""
    types = dict(f.split() for f in ddl.split(","))
    levels = [c for c in keys if c in postings.columns]
    carried = [c for c in keys if c not in postings.columns]
    tree: dict = {}
    for row in qv:
        r = dict(zip((*keys, "term", "qw"), row))
        node = tree
        for c in levels:
            node = node.setdefault(r[c], {})
        if carried:
            node.setdefault(r["term"], []).append({c: r[c] for c in (*carried, "qw")})
        else:
            node[r["term"]] = r["qw"]
    dtype = "double"
    if carried:
        fields = ",".join(f"{c}:{types[c]}" for c in carried)
        dtype = f"array<struct<{fields},qw:double>>"
    for _ in (*levels, "term"):
        dtype = f"map<string,{dtype}>"
    qw = F.from_json(F.lit(json.dumps(tree)), dtype)
    for c in (*levels, "term"):
        qw = qw[F.col(c)]
    base = postings.filter(F.col("term").isin(sorted({r[-2] for r in qv})) if qv else F.lit(False))
    if carried:
        base = base.select("*", F.explode(qw).alias("__q")).select("*", "__q.*")
    else:
        base = base.withColumn("qw", qw).filter(F.col("qw").isNotNull())
    score = quantized_sum(F.col("qw") * F.col(weight_col))
    if round_to is not None:
        score = det_round(score, round_to)
    return base.groupBy(*keys, "doc_id").agg(score.alias("score"))


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
    """Score docs against ANY (term, qw) query-vector DataFrame, e.g.
    query_vector's. The vector is request-sized: it is collected into
    the driver and scored by the one literal-map match (_match)."""
    rows = [tuple(r) for r in qv.select("term", "qw").collect()]
    base = restrict_ids(postings, subset, "doc_id")
    return _topk(_match(base, rows, QV_DDL, "weight", round_to=round_to), k)


def tfidf_score(
    postings: DataFrame,
    qterms: list[tuple[str, int]],
    k: int,
    subset: DataFrame | None = None,
    round_to: int | None = None,
) -> DataFrame:
    """Q4/Q5 — score docs against a compiled query: the CSR q·Mᵀ dot
    re-expressed as an inverted-index match. Returns (doc_id, score)
    top-k, `score` = TF-IDF cosine.

    The subset path (`M[index,:]` row-slice in the reference,
    object_retrieval.py:320-323) is a semi-join applied *before*
    aggregation, so non-candidate postings never reach the shuffle."""
    qv = _query_weights(postings, [(t, float(c)) for t, c in qterms])
    base = restrict_ids(postings, subset, "doc_id")
    return _topk(_match(base, qv, QV_DDL, "weight", round_to=round_to), k)


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
    feedback docs' postings (≤ n_fb rows per term). The ≤ m_terms
    elected rows are collected, so the re-score is the same literal-map
    match as every other sparse query. Two passes over the index, zero
    corpus shuffles beyond the scorer's own doc_id groupBy."""
    qv = _query_weights(postings, [(t, float(c)) for t, c in qterms])
    fb = _topk(_match(postings, qv, QV_DDL, "weight", round_to=round_to), n_fb)
    orig_terms = [t for t, _ in qterms]
    elected = (
        restrict_ids(postings, F.broadcast(fb.select("doc_id")), "doc_id")
        .filter(~F.col("term").isin(orig_terms))
        .groupBy("term")
        .agg(quantized_sum(F.col("weight")).alias("__mass"))
        .orderBy(F.desc("__mass"), F.asc("term"))
        .limit(m_terms)
        .collect()
    )
    combined = qv + [(r["term"], float(beta) * r["__mass"]) for r in elected]
    return _topk(_match(postings, combined, QV_DDL, "weight", round_to=round_to), k)


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
    # rank_bm25 divides by every document (corpus_size), so a null or
    # empty text counts in avgdl's denominator as it does in n
    avgdl = (
        tf.agg(F.sum("tf").alias("__dl"))
        .crossJoin(n)
        .select((F.col("__dl") / F.col("n")).alias("avgdl"))
    )
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
    qv = [(t, float(c)) for t, c in qterms]
    base = restrict_ids(bm25_postings, subset, "doc_id")
    return _topk(_match(base, qv, QV_DDL, "score_w", round_to=round_to), k)


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
    query vector is computed in the driver from one idf lookup and
    scored through a literal map nested by channel (_query_weights,
    _match)."""
    qv = _query_weights(
        postings,
        [(ch, t, float(c)) for ch, terms in channel_qterms.items() for t, c in terms],
        ("channel",),
    )
    scored = _match(
        postings, qv, "channel STRING, term STRING, qw DOUBLE", "weight", ("channel",), round_to
    )
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
    the index is read once per batch instead of once per query. Every
    query's weights come from the batch's one idf lookup; query_id is
    not a postings column, so each matched posting explodes its term's
    (query_id, qw) array out of the literal map (_match) — a Generate,
    which keeps this scan bucketed.

    Returns (query_id, doc_id, score)."""
    qv = _query_weights(
        postings,
        [(qid, t, float(c)) for qid, terms in batch_qterms.items() for t, c in terms],
        ("query_id",),
    )
    scored = _match(
        postings, qv, "query_id INT, term STRING, qw DOUBLE", "weight", ("query_id",), round_to
    )
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
