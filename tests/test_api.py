from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import encoders
from multi_search_retrival_big_data_spark.api import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return SearchEngine(spark, sf_dir)


def test_text_search_grouped(engine):
    out = engine.text_search("fast spark join", k=20).collect()
    assert len(out) > 0
    cols = set(out[0].asDict())
    assert {"label", "best_score", "hit_count", "best_id"} <= cols
    # groups ordered by best hit desc
    scores = [r["best_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_text_search_ensemble_and_filters(engine, spark):
    keep = spark.createDataFrame([(i,) for i in range(0, 50)], "vec_id BIGINT")
    ignore = spark.createDataFrame([(3,), (7,)], "vec_id BIGINT")
    out = engine.text_search(
        "query", k=10, ensemble=True, keep_ids=keep, ignore_ids=ignore, group=False
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert ids <= set(range(50)) and not ids & {3, 7}


def test_image_search_self_is_top(engine):
    rows = engine.image_search(42, k=5).collect()
    assert rows[0]["vec_id"] == 42 and rows[0]["score"] == 1.0


def test_panel_search_runs_and_empty_panel_is_empty(engine):
    panel = {
        "dragObject": [
            {"type": "person", "position": {"xTop": 0.01, "yTop": 0.01, "xBottom": 0.2, "yBottom": 0.2}}
        ],
        "tags": ["scan", "window"],
        "amount": "",
    }
    out = engine.panel_search(panel, k=10)
    assert out.columns == ["doc_id", "score"]
    out.collect()  # grid tokens won't match the synthetic corpus; tags may
    empty = {"dragObject": [], "tags": [], "amount": ""}
    assert engine.panel_search(empty).count() == 0
    # an empty panel keeps the shape its `group` flag asks for
    ungrouped = engine.panel_search(empty, group=False)
    assert ungrouped.columns == ["doc_id", "score"]
    assert engine.panel_search(panel, k=10, group=False).schema == ungrouped.schema
    grouped = engine.panel_search(empty, group=True)
    assert grouped.columns == ["source", "best_score", "hit_count", "best_id"]
    assert engine.panel_search(panel, k=10, group=True).schema == grouped.schema
    assert grouped.count() == 0


def test_feedback_rerank(engine):
    prev = engine.text_search("anything", k=20, group=False)
    out = engine.feedback(prev, pos_ids=[prev.first()["vec_id"]], neg_ids=[], k=5).collect()
    assert len(out) == 5


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_serving_plans_build_request_rows_in_the_driver(engine):
    """Request-sized rows (panel terms, votes) are LocalTableScans: no
    `Scan ExistingRDD`, whose PythonRDD starts Python workers on every
    evaluation."""
    panel = {"dragObject": [], "tags": ["scan", "window"], "amount": ""}
    prev = engine.text_search("anything", k=20, group=False)
    for df in (
        engine.panel_search(panel, k=10, group=True),
        engine.feedback(prev, pos_ids=[1, 2], neg_ids=[3], k=5),
    ):
        assert "ExistingRDD" not in _executed_plan(df)


def test_endpoint_jobs_and_tasks_stay_request_sized(engine, spark, sf_dir, job_group):
    """Each endpoint request, counted in its own job group once its
    indexes exist: no stage runs one task per postings bucket (a
    bucketed scan of the whole index), panel runs at most 7 jobs,
    diverse at most 5 and no localCheckpoint, text and image 2 each."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC
    from multi_search_retrival_big_data_spark.queries.sparse_queries import QUERY_TEXT

    panel = {
        "dragObject": [
            {"type": "person", "position": {"xTop": 0.01, "yTop": 0.01, "xBottom": 0.2, "yBottom": 0.2}}
        ],
        "tags": ["scan", "window", "batch"],
        "amount": "",
    }
    endpoints = {
        "text": lambda: engine.text_search("fast spark join", k=100),
        "image": lambda: engine.image_search(42, k=50),
        "panel": lambda: engine.panel_search(panel, k=50, group=True),
        "diverse": lambda: engine.diverse_search(QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=20, k=8),
        "feedback": lambda: engine.feedback(
            engine.text_search("anything", k=20, group=False), [1, 2], [3], k=10
        ),
    }
    index_store.tfidf_postings(spark, sf_dir)
    runs = {
        name: job_group(f"test_api/{name}", lambda ep=ep: ep().collect())
        for name, ep in endpoints.items()
    }
    for name, (_, stages) in runs.items():
        assert max(t for _, t in stages) < index_store.POSTINGS_BUCKETS, (name, stages)
    assert runs["panel"][0] <= 7, runs["panel"]
    assert runs["diverse"][0] <= 5, runs["diverse"]
    assert not any("localCheckpoint" in s for s, _ in runs["diverse"][1])
    assert runs["text"][0] == 2 and runs["image"][0] == 2, (runs["text"], runs["image"])


def test_related_neighborhood_same_source(engine):
    out = engine.related(10, radius=2).collect()
    assert 1 <= len(out) <= 5
    assert len({r["source"] for r in out}) == 1
    assert any(r["doc_id"] == 10 for r in out)


def test_translate_and_spell_fakes(engine):
    assert engine.translate("HeLLo") == "hello"
    assert engine.correct_spelling("abc") == "abc"


def test_real_encoder_seams_raise():
    with pytest.raises(NotImplementedError):
        encoders.ClipTextEncoder().encode("x")
    with pytest.raises(NotImplementedError):
        encoders.GoogleTranslator().translate("x")
    with pytest.raises(NotImplementedError):
        encoders.HFSpellCorrector().correct("x")


def test_browse_limit(engine):
    assert engine.browse(7).count() == 7


def test_panel_search_grouped(engine):
    panel = {"dragObject": [], "tags": ["scan", "window", "batch"], "amount": ""}
    out = engine.panel_search(panel, k=20, group=True)
    rows = out.collect()
    if rows:  # tag tokens exist in the synthetic corpus
        assert {"source", "best_score", "hit_count", "best_id"} <= set(rows[0].asDict())
        scores = [r["best_score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_diverse_search_page(spark, sf_dir):
    from multi_search_retrival_big_data_spark.api import SearchEngine
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC
    from multi_search_retrival_big_data_spark.queries.sparse_queries import QUERY_TEXT

    eng = SearchEngine(spark, sf_dir)
    page = eng.diverse_search(QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=10, k=4).collect()
    assert [r.sel_rank for r in page] == [1, 2, 3, 4]
    assert len({r.vec_id for r in page}) == 4
    # lam=1.0 degenerates to pure fused-relevance order
    pure = eng.diverse_search(
        QUERY_TEXT, query_vec=QUERY_VEC, n_fuse=10, k=4, lam=1.0
    ).collect()
    rels = [r.rel for r in pure]
    assert rels == sorted(rels, reverse=True)
