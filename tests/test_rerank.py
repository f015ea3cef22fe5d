"""Cross-encoder rerank seam (operators/rerank.py)."""

from __future__ import annotations

import hashlib
import math

import pytest

from multi_search_retrival_big_data_spark.encoders import (
    FakeCrossEncoder,
    TransformerCrossEncoder,
)
from multi_search_retrival_big_data_spark.operators import rerank


def _fake_ce(query: str, text: str) -> float:
    return int(hashlib.md5(f"{query}\x1f{text}".encode()).hexdigest()[:8], 16) / 4294967296.0


def test_fake_cross_encoder_deterministic_and_bounded():
    enc = FakeCrossEncoder()
    s1 = enc.score("q", "some passage")
    assert s1 == enc.score("q", "some passage") == _fake_ce("q", "some passage")
    assert 0.0 <= s1 < 1.0
    # pair-sensitive in BOTH arguments (a bi-encoder fake would not be)
    assert enc.score("q2", "some passage") != s1
    assert enc.score("q", "other passage") != s1


def test_production_seam_is_marked():
    with pytest.raises(NotImplementedError):
        TransformerCrossEncoder().score("q", "t")


def test_rerank_blend_and_order(spark):
    cand = spark.createDataFrame(
        [(1, 0.9, "aaa"), (2, 0.8, "bbb"), (3, 0.1, "ccc")],
        "doc_id BIGINT, score DOUBLE, text STRING",
    )
    got = rerank.cross_encoder_rerank(cand, "q", alpha=0.5, k=3).collect()

    def blend(s1, txt):
        b = 0.5 * s1 + 0.5 * _fake_ce("q", txt)
        return math.floor(b * 1e6 + 0.5) / 1e6

    expect = sorted(
        [(1, blend(0.9, "aaa")), (2, blend(0.8, "bbb")), (3, blend(0.1, "ccc"))],
        key=lambda t: (-t[1], t[0]),
    )
    assert [(r.doc_id, r.score) for r in got] == expect
    for r in got:
        assert r.ce_score == math.floor(_fake_ce("q", {1: "aaa", 2: "bbb", 3: "ccc"}[r.doc_id]) * 1e6 + 0.5) / 1e6


def test_rerank_k_clamps(spark):
    cand = spark.createDataFrame(
        [(i, 1.0 - i / 10.0, f"t{i}") for i in range(8)],
        "doc_id BIGINT, score DOUBLE, text STRING",
    )
    assert rerank.cross_encoder_rerank(cand, "q", k=3).count() == 3


def test_attach_candidate_text_semi_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id BIGINT, text STRING"
    )
    hits = spark.createDataFrame([(2, 0.5)], "doc_id BIGINT, score DOUBLE")
    rows = rerank.attach_candidate_text(hits, corpus, "doc_id", "text").collect()
    assert [(r.doc_id, r.text, r.score) for r in rows] == [(2, "two", 0.5)]


def _mmr_cands(spark):
    # A: top relevance; B: nearly identical to A but lower rel;
    # C: orthogonal, modest rel. MMR must pick C before B.
    rows = [
        (1, [1.0, 0.0, 0.0], 1.0),
        (2, [0.999, 0.04, 0.0], 0.8),
        (3, [0.0, 1.0, 0.0], 0.5),
    ]
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, rel DOUBLE")


def test_mmr_trades_relevance_for_diversity(spark):
    got = rerank.mmr_rerank(_mmr_cands(spark), k=3).collect()
    assert [(r.sel_rank, r.vec_id) for r in got] == [(1, 1), (2, 3), (3, 2)]
    # step 2 arithmetic: B = 0.7*0.8 - 0.3*sim(B,A) < C = 0.7*0.5 - 0.3*0
    assert {r.vec_id: r.rel for r in got} == {1: 1.0, 2: 0.8, 3: 0.5}


def test_mmr_deterministic_and_k_clamped(spark):
    a = [(r.sel_rank, r.vec_id) for r in rerank.mmr_rerank(_mmr_cands(spark), k=3).collect()]
    b = [(r.sel_rank, r.vec_id) for r in rerank.mmr_rerank(_mmr_cands(spark), k=3).collect()]
    assert a == b
    assert rerank.mmr_rerank(_mmr_cands(spark), k=10).count() == 3
    assert rerank.mmr_rerank(_mmr_cands(spark), k=1).count() == 1


def test_mmr_page_is_a_local_table_scan(spark):
    page = rerank.mmr_rerank(_mmr_cands(spark), k=3)
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan


def test_mmr_pure_relevance_at_lambda_one(spark):
    got = rerank.mmr_rerank(_mmr_cands(spark), k=3, lam=1.0).collect()
    assert [r.vec_id for r in got] == [1, 2, 3]  # rel order, no diversity term

def test_mmr_zero_norm_candidate_degrades_gracefully(spark):
    # a zero-norm vector makes cosine NULL; the coalesce treats it as
    # sim 0 so the greedy loop runs instead of raising on None
    rows = [
        (1, [1.0, 0.0, 0.0], 1.0),
        (2, [0.0, 0.0, 0.0], 0.8),  # degenerate
        (3, [0.0, 1.0, 0.0], 0.5),
    ]
    cand = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, rel DOUBLE"
    )
    got = rerank.mmr_rerank(cand, k=3).collect()
    assert len(got) == 3
    assert got[0].vec_id == 1
    # degenerate candidate has sim 0 to everything -> pure-relevance slot
    assert [r.vec_id for r in got] == [1, 2, 3]


def test_rerank_candidate_fences(spark):
    big = spark.range(0, rerank.MAX_RERANK_CANDIDATES + 5).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE), 1.0) AS embedding",
        "1.0 AS rel",
    )
    with pytest.raises(ValueError, match="max_candidates"):
        rerank.mmr_rerank(big, k=3)
    big_txt = spark.range(0, rerank.MAX_RERANK_CANDIDATES + 5).selectExpr(
        "id AS doc_id", "1.0 AS score", "CAST(id AS STRING) AS text"
    )
    with pytest.raises(ValueError, match="max_candidates"):
        rerank.cross_encoder_rerank(big_txt, "q", k=3)
    # an explicit higher fence admits the same frame
    assert rerank.cross_encoder_rerank(
        big_txt, "q", k=3, max_candidates=2000
    ).count() == 3
