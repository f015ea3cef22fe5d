"""Dense (embedding) search operators — Q1/Q2/Q3/Q17 of SURVEY.md §2.

The reference serves these with exact FAISS flat indexes
(utils/faiss_processing.py); here each is a DataFrame plan:

scan embeddings → [semi-join id subset] → cosine kernel → top-k.

Why this scales to 100 TB: the scan is embarrassingly parallel across
parquet row groups; `ORDER BY score DESC LIMIT k` compiles to
TakeOrderedAndProject (per-partition heap top-k + driver merge of
k-row heads), so no global sort and no shuffle of the scored corpus —
only num_partitions × k rows ever move. The id-subset restriction is a
semi-join placed *before* scoring so Catalyst prunes work exactly like
FAISS's IDSelectorArray (faiss_processing.py:154-166), and at parquet
level it can become a Bloom/DPP filter on the scan.

ONE cosine kernel: every literal-query rank (`topk_cosine`,
`batch_topk_cosine`) and every candidate-pair verify (`cosine_pairs`)
scores an Arrow batch with `functions.cosine.cosine_rows`, a NumPy
sequential fold whose bits equal `det_round(cosine_sim(...))` at every
width; MMR's pairwise similarities (rerank.mmr_rerank) run the same
kernel in the driver over the collected candidates. The Catalyst
expression `functions.vector.cosine_sim` stays where the query vector
is a column of the plan (knn_by_id, rocchio_rerank, the batched ANN
probes).

Every top-k appends `id ASC` as the tiebreaker: NumPy's argsort is
stable on row order, SQL sort is not (SURVEY.md §4 item 3).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark.functions.cosine import (
    as_matrix,
    cosine_rows,
    partial_topk,
    row_norms,
)
from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,
    quantized_sum,
)
from multi_search_retrival_big_data_spark.functions.vector import (
    cosine_sim,
    l2_dist,
    lit_vec,
)


def restrict_ids(df: DataFrame, subset: DataFrame | None, id_col: str) -> DataFrame:
    """Id-subset restriction (reference: IDSelectorArray / `M[index,:]`
    row-slice) as a LEFT SEMI join placed before any scoring: when
    `subset` (an allowed-id DataFrame, first column = the ids) is
    given, keep the rows of `df` whose `id_col` it holds; otherwise
    pass `df` through. The one filtered-mode restriction of every
    dense, ANN and sparse serving path."""
    if subset is None:
        return df
    return df.join(subset.select(F.col(subset.columns[0]).alias(id_col)), on=id_col, how="left_semi")


def topk_cosine(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subset: DataFrame | None = None,
    round_to: int | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """Q1 — text→image dense top-k (reference text_search,
    utils/faiss_processing.py:118-173): the cosine of every row against
    a literal query vector, best k by (score DESC, id ASC). `round_to`
    rounds the score *before* the sort so oracle comparisons are
    float-noise-proof. `keep_vec=True` carries the embedding through
    the top-k (k·dim extra bytes through TakeOrderedAndProject) so a
    downstream consumer (rocchio_rerank, MMR) does not re-join the
    corpus for k vectors. Every ANN serving path ranks its pruned
    candidate set through this same call.

    Plan: restrict_ids (semi-join before scoring) → mapInPandas, which
    scores each Arrow batch with `cosine_rows` (the reference's flat scan,
    utils/faiss_processing.py:17-22, one vectorized pass per batch) and
    emits only that batch's top k → TakeOrderedAndProject. A query
    whose width differs from the corpus's raises ValueError."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qn = float(row_norms(q[None, :])[0])
    base = restrict_ids(emb, subset, id_col).select(id_col, vec_col)
    fields = [base.schema[id_col], StructField("score", DoubleType())]
    if keep_vec:
        fields.append(base.schema[vec_col])

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = as_matrix(pdf[vec_col], len(q))
            s = cosine_rows(m, q, row_norms(m), qn, round_to)
            ids = pdf[id_col].to_numpy()
            top = partial_topk(ids, s, k)
            out = {id_col: ids[top], "score": s[top]}
            if keep_vec:
                out[vec_col] = pdf[vec_col].to_numpy()[top]
            yield pd.DataFrame(out)

    scored = base.mapInPandas(score_batches, StructType(fields))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def knn_by_id(
    emb: DataFrame,
    query_id: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    subset: DataFrame | None = None,
    include_self: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Q2 — image→image KNN by stored example (reference image_search,
    utils/faiss_processing.py:106-116: reconstruct row + search).

    The "reconstruct" is a 1-row broadcast joined against the corpus —
    no driver collect, so the plan is a single distributed pass."""
    q = F.broadcast(
        emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__qvec"))
    )
    base = restrict_ids(emb, subset, id_col)
    if not include_self:
        base = base.filter(F.col(id_col) != query_id)
    score = cosine_sim(vec_col, "__qvec")
    if round_to is not None:
        score = det_round(score, round_to)
    scored = base.crossJoin(q).select(F.col(id_col), score.alias("score"))
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def rocchio_rerank(
    emb: DataFrame,
    candidates: DataFrame,
    votes: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Q3 — relevance-feedback rerank (reference `reranking`,
    utils/faiss_processing.py:280-335).

    candidates: (id, score) of the previous result;
    votes: (id, sign) with sign=+1 positive / -1 negative.

    Semantics vs the reference: negative-voted ids are removed from the
    candidate set exactly as at :299-301. One documented deviation: the
    reference's per-vote FAISS search returns only the top min(k,
    |candidates|) hits per vote (:307-314), so a vote contributes
    nothing to candidates outside its own top-k; this operator
    accumulates sign·cos over ALL kept candidates — a deliberate
    simplification (every candidate gets its full Rocchio delta) that
    diverges only when |candidates| > k.

    Plan shape: votes ⋈ embeddings (tiny, broadcast) × candidates ⋈
    embeddings → per-pair dot → groupBy(candidate) sum. The only
    shuffle is the final aggregation over |candidates| rows. If
    `candidates` already carries the vector column (topk_cosine
    keep_vec=True), the candidate-side corpus join disappears — the
    whole rerank then touches the corpus only for the |votes| rows."""
    cand_id, prev = candidates.columns[0], candidates.columns[1]
    vote_id, sign = votes.columns[0], votes.columns[1]
    neg = votes.filter(F.col(sign) < 0).select(F.col(vote_id).alias(cand_id))
    has_vec = vec_col in candidates.columns
    kept_cols = [F.col(cand_id).alias(id_col), F.col(prev).alias("prev_score")]
    if has_vec:
        kept_cols.append(F.col(vec_col))
    kept = candidates.select(*kept_cols).join(
        neg.withColumnRenamed(cand_id, id_col), on=id_col, how="left_anti"
    )

    vote_vecs = F.broadcast(
        votes.join(emb, votes[vote_id] == emb[id_col], "inner").select(
            F.col(sign).alias("__sign"), F.col(vec_col).alias("__qvec")
        )
    )
    cand_vecs = (
        kept if has_vec else kept.join(emb.select(id_col, vec_col), on=id_col)
    )
    pairs = cand_vecs.crossJoin(vote_vecs).select(
        F.col(id_col),
        F.col("prev_score"),
        (F.col("__sign") * cosine_sim(vec_col, "__qvec")).alias("__delta"),
    )
    score = F.col("prev_score") + F.col("__d")
    if round_to is not None:
        score = det_round(score, round_to)
    # quantized addends, not a double→DECIMAL cast: the cast rounds
    # through the shortest string repr in Spark but the binary value in
    # DuckDB, drifting by an ulp (see functions/rounding.py)
    out = (
        pairs.groupBy(id_col, "prev_score")
        .agg(quantized_sum(F.col("__delta"), 12).alias("__d"))
        .select(F.col(id_col), score.alias("score"))
    )
    return out.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def vocab_knn_l2(
    vocab: DataFrame,
    query_vec: Sequence[float],
    k: int,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Q17 — tag recommendation: L2 top-k over the vocabulary table
    (reference tag_retrieval, utils/semantic_embed/tag_retrieval.py:48-56
    — note the reference uses IndexFlat**L2** here, not IP)."""
    dist = l2_dist(vec_col, lit_vec(query_vec))
    if round_to is not None:
        dist = det_round(dist, round_to)
    scored = vocab.select(F.col(key_col), dist.alias("dist"))
    return scored.orderBy(F.asc("dist"), F.asc(key_col)).limit(k)


def model_b_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
) -> DataFrame:
    """The second-model index (reference clipv2, app.py:165 /
    faiss_processing.py:20-22) derived as a deterministic signed
    coordinate projection of model A's vectors into MODEL_B_DIM
    dimensions (see encoders.model_b_components — same literals on the
    oracle side). A narrow per-row projection: no shuffle, stays in
    whole-stage codegen; at rest this is its own embeddings table
    written at ingest."""
    from multi_search_retrival_big_data_spark.encoders import model_b_components

    comps = model_b_components(in_dim)
    arr = F.array(
        *[
            F.element_at(F.col(vec_col).cast("array<double>"), src + 1) * F.lit(sign)
            for src, sign in comps
        ]
    )
    return emb.withColumn(vec_col, arr)


def expand_to_dim(
    emb: DataFrame,
    out_dim: int = 768,
    in_dim: int = 64,
    vec_col: str = "embedding",
    as_float: bool = True,
) -> DataFrame:
    """Derive a PRODUCTION-WIDTH embeddings table (d=out_dim) from the
    64-d testdata corpus — the reference serves 768-d CLIP vectors
    (reference data_extraction/create_bin.ipynb cells 3,8;
    utils/faiss_processing.py:39-41), so every dense/ANN path must be
    measured at that width, not just at d=64.

    out[j] = in[src_j] · coeff_j with md5-derived literal components
    (encoders.dim_expand_components — same literals on the oracle
    side). A narrow per-row projection: no shuffle; `as_float=True`
    casts to ARRAY<FLOAT>, the at-rest CLIP storage width (one IEEE
    double→float round, bit-identical in Spark/DuckDB/NumPy), so the
    written table has exactly the production schema. At real scale
    this is an ingest-time column, not a query-time derivation."""
    from multi_search_retrival_big_data_spark.encoders import dim_expand_components

    comps = dim_expand_components(in_dim, out_dim)
    v = F.col(vec_col).cast("array<double>")
    arr = F.array(
        *[F.element_at(v, src + 1) * F.lit(coeff) for src, coeff in comps]
    )
    if as_float:
        arr = arr.cast("array<float>")
    return emb.withColumn(vec_col, arr)


def topk_cosine_dim_routed(
    requested: str,
    spaces: dict[str, tuple[DataFrame, int]],
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Q1 with the reference's dimension-mismatch fallback
    (faiss_processing.py:133-152: if the query vector's dimension does
    not match the selected index, search the OTHER model's index
    instead of failing). `spaces` maps model name → (embeddings, dim);
    the query routes to the requested space when dims agree, else to
    the space whose dimension matches the vector."""
    dim = len(list(query_vec))
    df, d = spaces[requested]
    if d != dim:
        for _name, (df2, d2) in spaces.items():
            if d2 == dim:
                df = df2
                break
        else:
            raise ValueError(
                f"no embedding space matches query dim {dim} "
                f"(have {dict((n, dd) for n, (_, dd) in spaces.items())})"
            )
    return topk_cosine(df, query_vec, k=k, id_col=id_col, vec_col=vec_col, round_to=round_to)


def batch_topk_cosine(
    emb: DataFrame,
    batch_queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Multi-query batched top-k (SURVEY.md §4 custom-work item 2):
    score EVERY (query_id, vector) of a request-sized batch against the
    corpus in one scan and keep k per query — the reference's batched
    FAISS search (faiss_processing.py:307-314 searches all feedback
    votes in one call) generalized to any query batch.

    Each Arrow batch's matrix and norms are computed once and scored
    with `cosine_rows` per query; the UDF emits only the batch's top k PER
    QUERY — a map-side partial top-k, so the shuffle into the final
    `row_number() OVER (PARTITION BY query_id ...)` window carries
    O(batches · |Q| · k) rows instead of O(N · |Q|)."""
    qids = [int(i) for i, _ in batch_queries]
    qmat = np.asarray([[float(x) for x in v] for _, v in batch_queries], dtype=np.float64)
    qnorms = row_norms(qmat)
    id_type = emb.schema[id_col].dataType.simpleString()

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = as_matrix(pdf[vec_col], qmat.shape[1])
            mn = row_norms(m)
            ids = pdf[id_col].to_numpy()
            for qid, q, qn in zip(qids, qmat, qnorms):
                s = cosine_rows(m, q, mn, qn, round_to)
                top = partial_topk(ids, s, k)
                yield pd.DataFrame(
                    {"query_id": np.full(len(top), qid), id_col: ids[top], "score": s[top]}
                )

    scored = emb.select(id_col, vec_col).mapInPandas(
        score_batches, f"query_id long, {id_col} {id_type}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("score"), F.asc(id_col))
    )


def cosine_pairs(
    emb: DataFrame,
    id_pairs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact-cosine verify of a candidate (id_a, id_b) list → (id_a,
    id_b, cosine) with cosine ≥ threshold: the vectors are joined once
    per side (unique-id joins, the jaccard_for_pairs shape), then each
    Arrow batch of pairs is scored by `cosine_rows` — the verify step of
    every candidate-pair miner (embedding LSH near-dups, their delta
    probe, SemDeDup's mega-cell and delta pairs). Pair orientation is
    bit-immaterial (index-ordered folds; double multiply commutes), and
    a NULL (zero-norm) cosine never passes the threshold."""
    pairs_v = id_pairs.select("id_a", "id_b").join(
        emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")),
        "id_a",
    ).join(
        emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")),
        "id_b",
    )

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = np.stack(pdf["__va"].to_numpy()).astype(np.float64)
            vb = as_matrix(pdf["__vb"], va.shape[1])
            c = cosine_rows(va, vb, row_norms(va), row_norms(vb), round_to)
            ok = c >= threshold
            yield pd.DataFrame(
                {"id_a": pdf["id_a"].to_numpy()[ok], "id_b": pdf["id_b"].to_numpy()[ok], "cosine": c[ok]}
            )

    return pairs_v.mapInPandas(score_batches, "id_a long, id_b long, cosine double")


def label_centroid_norms(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid statistics → (label, n_vecs, centroid_norm).

    The coarse building block behind every centroid structure the
    engine uses — IVF cell centroids (FAISS trains them at build time,
    /root/reference/utils/faiss_processing.py:17-22 loads the result)
    and per-class mean embeddings for dataset audits.

    Plan shape: posexplode to (label, dim, value) — d rows per vector —
    then ONE partial-aggregated groupBy (label, dim) for the per-dim
    means, then a d-row-per-label groupBy for the norm. Shuffle volume
    is labels × d rows, independent of corpus size. Both sums are
    quantized (functions.rounding.quantized_sum), so the result is
    order-independent and engine-portable — a float mean over a
    shuffled partitioning would otherwise differ run to run.
    """
    ex = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("dim", "v"),
    )
    per_dim = ex.groupBy("label", "dim").agg(
        quantized_sum(F.col("v").cast("double")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = per_dim.select(
        "label", "n", (F.col("s") / F.col("n").cast("double")).alias("m")
    )
    return (
        mean.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sqrt(quantized_sum(F.col("m") * F.col("m"))).alias("__norm"),
        )
        .select("label", "n_vecs", det_round(F.col("__norm")).alias("centroid_norm"))
    )
