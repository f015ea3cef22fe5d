"""Oracle-checked fusion queries (SURVEY.md §2 Q8/Q9/Q12/Q13).

Inputs are dense top-k lists over `embeddings` (two query vectors ≈
the reference's two CLIP variants) and sparse TF-IDF lists over
`documents` — the same fusion algebra the reference funnels every
multi-modal query through (utils/combine_utils.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multi_search_retrival_big_data_spark import index_store, tables
from multi_search_retrival_big_data_spark.operators import dense, fusion, sparse
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import (
    QUERY_VEC,
    QUERY_VEC_B,
    sql_det_round,
    sql_vec,
)
from multi_search_retrival_big_data_spark.queries.sparse_queries import (
    QUERY_TEXT,
    tfidf_cte,
)

_QV_A = sql_vec(QUERY_VEC)
_QV_B = sql_vec(QUERY_VEC_B)
_EMB = "CAST(embedding AS DOUBLE[])"


def _cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def _dense_top_cte(name: str, qvec: str, k: int) -> str:
    return f"""
    {name} AS (
      SELECT vec_id AS id, {sql_det_round(_cos(_EMB, qvec))} AS score
      FROM embeddings ORDER BY score DESC, vec_id LIMIT {k}
    )"""


def _fuse_add_sql(ctes: list[str], k: int, id_name: str = "id") -> str:
    parts = []
    for i, cte in enumerate(ctes):
        parts.append(f"""
    mm{i} AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM {cte}),
    nrm{i} AS (
      SELECT id, (score - mm.mn) / (mm.mx - mm.mn + 1e-6) AS score
      FROM {cte} CROSS JOIN mm{i} mm
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM nrm{i}" for i in range(len(ctes)))
    return (
        ",".join(parts)
        + f""",
    fused AS (
      SELECT id,
             CAST(SUM(CAST(FLOOR(score * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM ({union}) u GROUP BY 1
    )
    SELECT id AS {id_name}, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM fused ORDER BY score DESC, {id_name} LIMIT {k}
    """
    )


@query(
    "fusion_dual_model_ensemble",
    oracle=f"""
    WITH {_dense_top_cte('lista', _QV_A, 100)},
    {_dense_top_cte('listb', _QV_B, 100)},
    {_fuse_add_sql(['lista', 'listb'], 50, 'vec_id').lstrip().removeprefix(',')}
    """,
)
def fusion_dual_model_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 + Q8 — the reference's clip+clipv2 ensemble (/textsearch
    with both models, app.py:330-357): two dense searches fused by
    min-max addition. Both dense branches run the one cosine kernel
    (dense.topk_cosine), whose det-rounded scores are bit-equal to the
    oracle's."""
    emb = tables.load(spark, "embeddings", sf_dir)
    a = dense.topk_cosine(emb, QUERY_VEC, k=100, round_to=6)
    b = dense.topk_cosine(emb, QUERY_VEC_B, k=100, round_to=6)
    return fusion.merge_by_addition([a, b], k=50, round_to=6).withColumnRenamed("id", "vec_id")


@query(
    "fusion_l2_dedup_max",
    oracle=f"""
    WITH {_dense_top_cte('lista', _QV_A, 100)},
    {_dense_top_cte('listb', _QV_B, 100)},
    n0 AS (SELECT sqrt(SUM(score * score)) AS l2 FROM lista),
    n1 AS (SELECT sqrt(SUM(score * score)) AS l2 FROM listb),
    u AS (
      SELECT id, score / n0.l2 AS score FROM lista CROSS JOIN n0
      UNION ALL
      SELECT id, score / n1.l2 AS score FROM listb CROSS JOIN n1
    ),
    dedup AS (SELECT id, MAX(score) AS s FROM u GROUP BY 1)
    SELECT id AS vec_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM dedup ORDER BY score DESC, vec_id LIMIT 50
    """,
)
def fusion_l2_dedup_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — legacy merge_searching_results (combine_utils.py:4-27):
    L2-scale each list, dedup keeping the max-scored occurrence."""
    emb = tables.load(spark, "embeddings", sf_dir)
    a = dense.topk_cosine(emb, QUERY_VEC, k=100, round_to=6)
    b = dense.topk_cosine(emb, QUERY_VEC_B, k=100, round_to=6)
    return fusion.merge_l2_dedup_max([a, b], k=50, round_to=6).withColumnRenamed("id", "vec_id")


_QSPARSE = sparse.query_terms(QUERY_TEXT, (1, 1))


@query(
    "fusion_hybrid_sparse_dense",
    oracle=f"""
    WITH {tfidf_cte('sp_', (1, 1), _QSPARSE)},
    sp_top AS (SELECT doc_id AS id, score FROM sp_topk ORDER BY score DESC, doc_id LIMIT 100),
    {_dense_top_cte('dn_top', _QV_A, 100).lstrip().removeprefix(',')},
    {_fuse_add_sql(['sp_top', 'dn_top'], 50, 'doc_id').lstrip().removeprefix(',')}
    """,
)
def fusion_hybrid_sparse_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 — hybrid keyword+semantic retrieval (reference
    speech_retrieval.__call__, speech_retrieval.py:70-131): sparse
    TF-IDF list fused with a dense embedding list over the same id
    space (documents ↔ embeddings share ids in the testdata corpus).
    The sparse side reads the persisted bucketed posting table — no
    per-query fit (reference loads fitted artifacts at startup,
    object_retrieval.py:117-145)."""
    emb = tables.load(spark, "embeddings", sf_dir)
    postings = index_store.tfidf_postings(spark, sf_dir)
    sparse_list = sparse.tfidf_score(postings, _QSPARSE, k=100, round_to=6)
    dense_list = dense.topk_cosine(emb, QUERY_VEC, k=100, round_to=6)
    return fusion.merge_by_addition([sparse_list, dense_list], k=50, round_to=6).withColumnRenamed(
        "id", "doc_id"
    )


def _rrf_fuse_sql(
    ctes: list[str],
    k: int,
    id_name: str = "id",
    k0: int = fusion.RRF_K0,
    as_cte: str | None = None,
) -> str:
    """DuckDB mirror of fusion.reciprocal_rank_fusion over named top-k
    CTEs (each exposing (id, score)); composes like _fuse_add_sql. The
    addend is the SAME single double division the Spark plan computes
    (1e12/(k0+r)), FLOOR-quantized into an exact DECIMAL sum.
    `as_cte` wraps the final top-k as a named CTE instead of a
    terminal SELECT, for queries that keep composing."""
    parts = [
        f"""
    rrf_r{i} AS (
      SELECT id, row_number() OVER (ORDER BY score DESC, id) AS r FROM {cte}
    )"""
        for i, cte in enumerate(ctes)
    ]
    union = " UNION ALL ".join(f"SELECT * FROM rrf_r{i}" for i in range(len(ctes)))
    final = (
        f"SELECT id AS {id_name}, score FROM rrf_f "
        f"ORDER BY score DESC, {id_name} LIMIT {k}"
    )
    if as_cte is not None:
        final = f",\n    {as_cte} AS ({final})"
    return (
        ",".join(parts)
        + f""",
    rrf_f AS (
      SELECT id,
             CAST(SUM(CAST(FLOOR(1e12 / ({float(k0)!r} + CAST(r AS DOUBLE)) + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS score
      FROM ({union}) u GROUP BY 1
    )
    {final}
    """
    )


@query(
    "fusion_rrf_hybrid",
    oracle=f"""
    WITH {tfidf_cte('rp_', (1, 1), _QSPARSE)},
    sp_top AS (SELECT doc_id AS id, score FROM rp_topk ORDER BY score DESC, doc_id LIMIT 100),
    {_dense_top_cte('dn_top', _QV_A, 100).lstrip().removeprefix(',')},
    {_rrf_fuse_sql(['sp_top', 'dn_top'], 50, 'doc_id').lstrip().removeprefix(',')}
    """,
)
def fusion_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 via reciprocal-rank fusion (Cormack et al., SIGIR 2009) —
    the rank-only alternative to the reference's min-max additive merge
    (combine_utils.py:29-65) for the same hybrid keyword+semantic
    retrieval (speech_retrieval.py:70-131): sparse TF-IDF top-100 and
    dense top-100 fused by Σ 1/(60+rank). Rank fusion sidesteps the
    score-scale mismatch entirely (TF-IDF cosines and CLIP cosines
    live on different scales), which is why hybrid-search engines
    default to it. Both lists are request-sized; the fuse never
    touches the corpus."""
    emb = tables.load(spark, "embeddings", sf_dir)
    postings = index_store.tfidf_postings(spark, sf_dir)
    sparse_list = sparse.tfidf_score(postings, _QSPARSE, k=100, round_to=6)
    dense_list = dense.topk_cosine(emb, QUERY_VEC, k=100, round_to=6)
    return fusion.reciprocal_rank_fusion([sparse_list, dense_list], k=50).withColumnRenamed(
        "id", "doc_id"
    )


_QOCR = sparse.query_terms("batch window scan order", (1, 3))


@query(
    "trimodal_context_search",
    oracle=f"""
    WITH {tfidf_cte('w_', (1, 1), _QSPARSE)},
    w_top AS (SELECT doc_id AS id, score FROM w_topk ORDER BY score DESC, doc_id LIMIT 50),
    {tfidf_cte('o_', (1, 3), _QOCR).lstrip().removeprefix(',')},
    o_top AS (SELECT doc_id AS id, score FROM o_topk ORDER BY score DESC, doc_id LIMIT 50),
    srcdocs AS (
      SELECT source AS doc_id, string_agg(text, ' ' ORDER BY doc_id) AS text
      FROM documents GROUP BY source
    ),
    {tfidf_cte('a_', (1, 1), _QSPARSE, table='srcdocs').lstrip().removeprefix(',')},
    a_prop AS (
      SELECT d.doc_id AS id, t.score
      FROM a_topk t JOIN documents d ON d.source = t.doc_id
    ),
    a_top AS (SELECT id, score FROM a_prop ORDER BY score DESC, id LIMIT 50),
    {_fuse_add_sql(['w_top', 'o_top', 'a_top'], 20, 'doc_id').lstrip().removeprefix(',')}
    """,
)
def trimodal_context_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — the /panel tri-modal pipeline end to end
    (faiss_processing.py:234-277): object-context channel (word TF-IDF)
    + OCR channel ((1,3) n-grams) + ASR channel (transcript scores
    propagated through the segment→keyframe bridge, Q10) fused by Q8.

    ASR analogue on the synthetic corpus: per-source concatenated text
    plays the transcript (one 'audio segment' per source), and the
    documents.source column is the bridge that fans segment scores out
    to items."""
    from pyspark.sql import functions as F

    docs = tables.load(spark, "documents", sf_dir)
    w_list = sparse.tfidf_score(
        index_store.tfidf_postings(spark, sf_dir), _QSPARSE, k=50, round_to=6
    )
    o_list = sparse.tfidf_score(
        index_store.tfidf_postings(spark, sf_dir, ngram_range=(1, 3)),
        _QOCR,
        k=50,
        round_to=6,
    )
    srcdocs = docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda x: x["text"],
            ),
            " ",
        ).alias("text")
    ).withColumnRenamed("source", "doc_id")
    seg_scores = sparse.tfidf_score(
        sparse.fit_tfidf(srcdocs), _QSPARSE, k=1_000_000, round_to=6
    ).withColumnRenamed("doc_id", "source")
    a_list = (
        docs.select("source", "doc_id")
        .join(F.broadcast(seg_scores), "source")
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(50)
    )
    return fusion.merge_by_addition([w_list, o_list, a_list], k=20, round_to=6).withColumnRenamed(
        "id", "doc_id"
    )


# ---- true dual-model ensemble (distinct vector spaces) --------------

from multi_search_retrival_big_data_spark.encoders import (  # noqa: E402
    MODEL_B_DIM,
    model_b_components,
    model_b_encode,
)

_B_COMPS = model_b_components()
_QV_B_TRUE = model_b_encode(QUERY_VEC)


def _model_b_sql(vec_expr: str) -> str:
    """Model B corpus vector as a DuckDB list expression — the same
    (source, sign) literals the Spark plan embeds."""
    return (
        "["
        + ", ".join(f"{vec_expr}[{src + 1}] * ({sign!r})" for src, sign in _B_COMPS)
        + "]"
    )


@query(
    "fusion_dual_model_true",
    oracle=f"""
    WITH va AS (SELECT vec_id, {_EMB} AS v FROM embeddings),
    vb AS (SELECT vec_id, {_model_b_sql("v")} AS v FROM va),
    lista AS (
      SELECT vec_id AS id, {sql_det_round(_cos("v", _QV_A))} AS score
      FROM va ORDER BY score DESC, vec_id LIMIT 100
    ),
    listb AS (
      SELECT vec_id AS id, {sql_det_round(_cos("v", sql_vec(_QV_B_TRUE)))} AS score
      FROM vb ORDER BY score DESC, vec_id LIMIT 100
    ),
    {_fuse_add_sql(['lista', 'listb'], 50, 'vec_id').lstrip().removeprefix(',')}
    """,
)
def fusion_dual_model_true(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 with two STRUCTURALLY DISTINCT vector spaces — the honest
    clip+clipv2 ensemble (reference app.py:330-357 runs the same query
    against two separate FAISS indexes and fuses by Q8): model A is the
    embeddings table (d=64), model B its deterministic signed
    projection into d=48 (encoders.model_b_components — a genuinely
    different similarity, not a second query vector in the same
    space). Each branch searches its own space with the query encoded
    FOR that space; min-max additive fusion merges the two rankings."""
    emb = tables.load(spark, "embeddings", sf_dir)
    emb_b = dense.model_b_embeddings(emb)
    a = dense.topk_cosine(emb, QUERY_VEC, k=100, round_to=6)
    b = dense.topk_cosine(emb_b, _QV_B_TRUE, k=100, round_to=6)
    return fusion.merge_by_addition([a, b], k=50, round_to=6).withColumnRenamed("id", "vec_id")


@query(
    "fusion_dual_model_dim_fallback",
    oracle=f"""
    WITH va AS (SELECT vec_id, {_EMB} AS v FROM embeddings),
    vb AS (SELECT vec_id, {_model_b_sql("v")} AS v FROM va)
    SELECT vec_id, {sql_det_round(_cos("v", sql_vec(_QV_B_TRUE)))} AS score
    FROM vb
    ORDER BY score DESC, vec_id
    LIMIT 50
    """,
)
def fusion_dual_model_dim_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's dimension-mismatch fallback
    (faiss_processing.py:133-152): the caller requests model A ('clip')
    but hands a {MODEL_B_DIM}-d query vector, so the search routes to
    the space whose dimension matches (model B) instead of failing.
    Oracle = the direct model-B search, proving the fallback selects
    exactly the right index."""
    emb = tables.load(spark, "embeddings", sf_dir)
    spaces = {
        "clip": (emb, 64),
        "clipv2": (dense.model_b_embeddings(emb), MODEL_B_DIM),
    }
    return dense.topk_cosine_dim_routed(
        "clip", spaces, _QV_B_TRUE, k=50, round_to=6
    )


# ---- true dual-model ensemble at PRODUCTION width (d=768) -----------
#
# The reference's clip/clipv2 pair are BOTH 768-wide CLIP variants
# (app.py:165; faiss_processing.py:20-22,39-41); the d=48 model-B row
# above proves the two-space mechanics, these rows prove them at real
# CLIP width: model A = the expanded d=768 corpus
# (index_store.dim_corpus), model B = its own 64→48→768 chain
# (index_store.model_b_dim_corpus) — structurally distinct
# similarities, both at width, fused by Q8. Both corpus tables are
# AT-REST (ingest-time columns); the oracle re-derives every float
# including the double→float storage casts.

from multi_search_retrival_big_data_spark.encoders import (  # noqa: E402
    dim_expand_components,
    dim_expand_encode,
    model_b_dim_encode,
)
from multi_search_retrival_big_data_spark.queries.dense_queries import (  # noqa: E402
    _D768_EX_CTE,
    _dim768_comps_sql,
)

_D768F = 768
_QV_A768 = dim_expand_encode(QUERY_VEC, 64, _D768F)
_QV_B768 = model_b_dim_encode(QUERY_VEC)
_B768_COMPS = dim_expand_components(48, _D768F)


def _model_b768_sql(vb48: str) -> str:
    """Model-B-at-width corpus vector as a DuckDB list over the
    48-wide model-B list expression, INCLUDING the double→float
    storage cast of the at-rest table."""
    return (
        "["
        + ", ".join(
            f"CAST(CAST({vb48}[{src + 1}] * ({coeff!r}) AS FLOAT) AS DOUBLE)"
            for src, coeff in _B768_COMPS
        )
        + "]"
    )


_B768_CTES = f"""va48 AS (SELECT vec_id, {_EMB} AS v FROM embeddings),
    vb48 AS (SELECT vec_id, {_model_b_sql("v")} AS v FROM va48),
    vb AS (SELECT vec_id, {_model_b768_sql("v")} AS v FROM vb48)"""


@query(
    "fusion_dual_model_true_d768",
    oracle=f"""
    WITH {_D768_EX_CTE.format(comps=_dim768_comps_sql()).lstrip().removeprefix(',')},
    {_B768_CTES},
    lista AS (
      SELECT vec_id AS id, {sql_det_round(_cos("v", sql_vec(_QV_A768)))} AS score
      FROM ex ORDER BY score DESC, vec_id LIMIT 100
    ),
    listb AS (
      SELECT vec_id AS id, {sql_det_round(_cos("v", sql_vec(_QV_B768)))} AS score
      FROM vb ORDER BY score DESC, vec_id LIMIT 100
    ),
    {_fuse_add_sql(['lista', 'listb'], 50, 'vec_id').lstrip().removeprefix(',')}
    """,
)
def fusion_dual_model_true_d768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13's TRUE two-space ensemble at PRODUCTION width: the query
    encoded separately for each 768-wide model (dim_expand_encode for
    A, model_b_dim_encode for B), each branch a top-100 cosine scan of
    its own at-rest table, min-max
    additive fusion to the final 50. This is the reference's
    both-models path (app.py:330-357) at real CLIP width."""
    wide_a = index_store.dim_corpus(spark, sf_dir, _D768F)
    wide_b = index_store.model_b_dim_corpus(spark, sf_dir, _D768F)
    a = dense.topk_cosine(wide_a, _QV_A768, k=100, round_to=6)
    b = dense.topk_cosine(wide_b, _QV_B768, k=100, round_to=6)
    return fusion.merge_by_addition([a, b], k=50, round_to=6).withColumnRenamed(
        "id", "vec_id"
    )


@query(
    "fusion_dual_model_dim_fallback_d768",
    oracle=f"""
    WITH va AS (SELECT vec_id, {_EMB} AS v FROM embeddings)
    SELECT vec_id, {sql_det_round(_cos("v", _QV_A))} AS score
    FROM va
    ORDER BY score DESC, vec_id
    LIMIT 50
    """,
)
def fusion_dual_model_dim_fallback_d768(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-mismatch fallback DURING a width migration: the
    caller requests the production d=768 index but hands a legacy d=64
    query vector (an old client mid-rollout), so the router
    (faiss_processing.py:133-152 semantics) serves the space whose
    dimension matches — the legacy d=64 table — instead of failing.
    Oracle = the direct d=64 search, proving the route."""
    emb = tables.load(spark, "embeddings", sf_dir)
    wide_a = index_store.dim_corpus(spark, sf_dir, _D768F)
    spaces = {
        "clip768": (wide_a, _D768F),
        "clip64": (emb, 64),
    }
    return dense.topk_cosine_dim_routed("clip768", spaces, QUERY_VEC, k=50, round_to=6)


# ---- d=64 dual-model pair consolidation (r7 verdict item 4) -----------------
# The two-space mechanics proof and its dimension-mismatch routing twin
# share one output schema (vec_id, score); the production-width d=768
# pair stays registered separately (fusion_dual_model_true_d768 is a
# bench anchor).

from pyspark.sql import functions as F  # noqa: E402

from multi_search_retrival_big_data_spark.queries import REGISTRY as _REG  # noqa: E402


def _absorb(name: str):
    qd = _REG.pop(name)
    return qd.fn, qd.oracle


_dm_true_fn, _dm_true_oracle = _absorb("fusion_dual_model_true")
_dm_fb_fn, _dm_fb_oracle = _absorb("fusion_dual_model_dim_fallback")


@query(
    "fusion_dual_model_d64_arms",
    oracle=f"""
    SELECT 'dim_fallback' AS arm, * FROM ({_dm_fb_oracle})
    UNION ALL
    SELECT 'true_ensemble' AS arm, * FROM ({_dm_true_oracle})
    ORDER BY arm, score DESC, vec_id
    """,
)
def fusion_dual_model_d64_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 two-space mechanics at d=64, both arms in one row-set:
    'true_ensemble' = model A (embeddings) + model B (its signed d=48
    projection, a genuinely different similarity) fused by Q8;
    'dim_fallback' = the reference's dimension-mismatch routing
    (faiss_processing.py:133-152 — a 48-d query asked of model A routes
    to the index whose dimension matches). Plans and oracles are the
    originals', unioned; the production-width twins
    (fusion_dual_model_true_d768 / _dim_fallback_d768) stay separate."""
    t = _dm_true_fn(spark, sf_dir).select(F.lit("true_ensemble").alias("arm"), "*")
    fb = _dm_fb_fn(spark, sf_dir).select(F.lit("dim_fallback").alias("arm"), "*")
    return fb.union(t).orderBy("arm", F.desc("score"), "vec_id")
