"""Oracle-checked second-stage rerank queries (operators/rerank.py).

First stage = persisted-postings TF-IDF top-n (the reference's sparse
recall path); second stage = cross-encoder pair scoring through the
Arrow mapInPandas seam (deterministic fake — encoders.FakeCrossEncoder
— whose md5 pair score the oracle re-derives digit by digit)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multi_search_retrival_big_data_spark import index_store, tables
from multi_search_retrival_big_data_spark.operators import dense, rerank, sparse
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import sql_det_round
from multi_search_retrival_big_data_spark.queries.sparse_queries import (
    QUERY_TEXT,
    tfidf_cte,
)

_QS = sparse.query_terms(QUERY_TEXT, (1, 1))
_ALPHA = 0.5
_N_CAND = 50
_K = 10


def _md5_int_sql(expr: str) -> str:
    """First 8 hex digits of md5(expr) as an integer — the positional
    instr decode shared with the MinHash oracle (dedup.shingle_int_value
    mirrors the same expression Spark-side)."""
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"({digits})"


_PAIR = "'" + QUERY_TEXT + "' || chr(31) || d.text"
_CE = f"({_md5_int_sql(_PAIR)} / 4294967296.0)"


@query(
    "rerank_cross_encoder",
    oracle=f"""
    WITH {tfidf_cte('ce_', (1, 1), _QS)},
    cand AS (SELECT doc_id, score FROM ce_topk ORDER BY score DESC, doc_id LIMIT {_N_CAND}),
    scored AS (
      SELECT c.doc_id,
             {_ALPHA!r} * c.score + {1.0 - _ALPHA!r} * {_CE} AS blended,
             {_CE} AS ce
      FROM cand c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, {sql_det_round('blended')} AS score, {sql_det_round('ce')} AS ce_score
    FROM scored ORDER BY score DESC, doc_id LIMIT {_K}
    """,
)
def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: persisted-postings TF-IDF recall (top-50)
    → cross-encoder pair rerank (top-10, blended 0.5·s1 + 0.5·ce).
    The pair model is the encoders.FakeCrossEncoder seam running
    through the real Arrow mapInPandas path — swap in a transformer
    cross-encoder on a production cluster and the plan is unchanged
    (same slot as the reference's /feedback rerank tail, app.py;
    see operators/rerank.py header). Candidate text is attached by
    broadcasting the 50-row hit list into a corpus hash-join."""
    docs = tables.load(spark, "documents", sf_dir)
    postings = index_store.tfidf_postings(spark, sf_dir)
    hits = sparse.tfidf_score(postings, _QS, k=_N_CAND, round_to=6)
    cand = rerank.attach_candidate_text(hits, docs, "doc_id", "text")
    # max_candidates=None: `cand` is bounded BY PLAN (the first stage
    # is a k=_N_CAND limit output broadcast into the text join), so
    # the runtime probe would only re-run the first stage
    return rerank.cross_encoder_rerank(
        cand, QUERY_TEXT, alpha=_ALPHA, k=_K, round_to=6, max_candidates=None
    )


# ---- MMR diversification (Carbonell & Goldstein 1998) ----------------------

from multi_search_retrival_big_data_spark.operators import rerank as _rr  # noqa: E402
from multi_search_retrival_big_data_spark.queries.common import (  # noqa: E402
    QUERY_VEC,
    sql_vec,
)

_MMR_N, _MMR_K, _MMR_LAM = 20, 5, _rr.MMR_LAMBDA
_MMR_B = 1.0 - _MMR_LAM
_EMBD = "CAST(embedding AS DOUBLE[])"


def _mmr_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def _mmr_score(c: str, ids: str) -> str:
    """λ·rel − (1−λ)·max selected-sim for candidate alias `c`, with the
    selected set carried as the recursive LIST column `ids` — rendered
    with repr'd double literals so both engines run identical IEEE
    ops."""
    mx = (
        f"(SELECT COALESCE(max(m.sim), 0.0) FROM sims m "
        f"WHERE m.id_a = {c}.id AND list_contains({ids}, m.id_b))"
    )
    return f"({_MMR_LAM!r} * {c}.rel - {_MMR_B!r} * {mx})"


def _mmr_sel_ctes(k: int) -> str:
    """sims + the recursive greedy-selection CTE over an in-scope
    `cand (id, v, rel)` CTE. Requires WITH RECURSIVE in the caller."""
    return f"""sims AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v) = 0.0
                  THEN 0.0
                  ELSE {sql_det_round(_mmr_cos('a.v', 'b.v'))} END AS sim
      FROM cand a JOIN cand b ON a.id <> b.id
    ),
    sel(step, ids) AS (
      SELECT 1, [c.id] FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM cand c2 WHERE c2.rel > c.rel OR (c2.rel = c.rel AND c2.id < c.id)
      )
      UNION ALL
      SELECT s.step + 1, list_append(s.ids, c.id)
      FROM sel s JOIN cand c ON NOT list_contains(s.ids, c.id)
      WHERE s.step < {k}
        AND NOT EXISTS (
          SELECT 1 FROM cand c2
          WHERE NOT list_contains(s.ids, c2.id) AND c2.id <> c.id
            AND ({_mmr_score('c2', 's.ids')} > {_mmr_score('c', 's.ids')}
                 OR ({_mmr_score('c2', 's.ids')} = {_mmr_score('c', 's.ids')}
                     AND c2.id < c.id))
        )
    )"""


def _mmr_final_select(k: int) -> str:
    """Unnest the step-k selection list into (sel_rank, vec_id, rel)
    rows (DuckDB has no WITH ORDINALITY — index the list via a range)."""
    return f"""
    SELECT CAST(t.i AS BIGINT) AS sel_rank, t.id AS vec_id, c.rel
    FROM (SELECT CAST(g.g AS INT) AS i, f.ids[CAST(g.g AS INT)] AS id
          FROM (SELECT ids FROM sel WHERE step = {k}) f,
               unnest(range(1, {k} + 1)) AS g(g)) t
    JOIN cand c ON c.id = t.id
    ORDER BY sel_rank
    """


@query(
    "rerank_mmr_diversify",
    oracle=f"""
    WITH RECURSIVE cand AS (
      SELECT vec_id AS id, {_EMBD} AS v,
             {sql_det_round(_mmr_cos(_EMBD, sql_vec(QUERY_VEC)))} AS rel
      FROM embeddings ORDER BY rel DESC, vec_id LIMIT {_MMR_N}
    ),
    {_mmr_sel_ctes(_MMR_K)}
    {_mmr_final_select(_MMR_K)}
    """,
)
def rerank_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-5 from the dense top-20: greedy
    λ·rel − (1−λ)·max-sim-to-selected (λ=0.7), the classic
    redundancy-removing rerank for pages of near-identical keyframes
    (operators/rerank.mmr_rerank scale notes — one collect of the
    det-rounded candidates, pair sims by the cosine kernel and the
    greedy in the driver, the reference's NumPy rerank-tail
    placement). The oracle replays the greedy chain as a
    recursive CTE carrying the selected set as a LIST column, so the
    whole selection path — not just the final set — is engine-exact."""
    emb = tables.load(spark, "embeddings", sf_dir)
    cand = dense.topk_cosine(
        emb, QUERY_VEC, k=_MMR_N, round_to=6, keep_vec=True
    ).withColumnRenamed("score", "rel")
    return _rr.mmr_rerank(cand, k=_MMR_K, lam=_MMR_LAM)


# ---- /search facade: RRF hybrid fuse → MMR diversify -----------------------

from multi_search_retrival_big_data_spark.queries.fusion_queries import (  # noqa: E402
    _dense_top_cte,
    _rrf_fuse_sql,
)

_DIV_N, _DIV_K = 20, 8
_QV_SQL = sql_vec(QUERY_VEC)


@query(
    "endpoint_diverse_search",
    oracle=f"""
    WITH RECURSIVE {tfidf_cte('dq_', (1, 1), _QS)},
    sp_top AS (SELECT doc_id AS id, score FROM dq_topk ORDER BY score DESC, doc_id LIMIT 100),
    {_dense_top_cte('dn_top', _QV_SQL, 100).lstrip().removeprefix(',')},
    {_rrf_fuse_sql(['sp_top', 'dn_top'], _DIV_N, as_cte='rrf_top').lstrip().removeprefix(',')},
    cand AS (
      SELECT r.id, CAST(e.embedding AS DOUBLE[]) AS v, r.score AS rel
      FROM rrf_top r JOIN embeddings e ON e.vec_id = r.id
    ),
    {_mmr_sel_ctes(_DIV_K)}
    {_mmr_final_select(_DIV_K)}
    """,
)
def endpoint_diverse_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed modern serving tail, end to end: sparse TF-IDF
    top-100 + dense top-100 → reciprocal-rank fusion (top-20) →
    vectors hydrated by broadcasting the fused list into the corpus →
    MMR diversification to the final page of 8. Every stage is this
    round's operator surface (fusion.reciprocal_rank_fusion,
    rerank.mmr_rerank) composed the way a /search endpoint would run
    them; the oracle chains the RRF CTE into the recursive MMR greedy,
    so the whole pipeline — fuse ranks, hydration, selection path — is
    engine-exact. MMR relevance = the exact quantized RRF score (rank
    fusion makes the two channels' scales commensurable before the
    diversity trade). Served through the api.SearchEngine facade —
    the same composition a /search handler would call."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    eng = SearchEngine(spark, sf_dir)
    return eng.diverse_search(QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=_DIV_N, k=_DIV_K)
