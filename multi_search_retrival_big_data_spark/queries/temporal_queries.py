"""Oracle-checked temporal / search-space / grouping queries
(SURVEY.md §2 S3, Q14/Q15/Q16/Q18/Q19/Q23).

Entity mapping onto the driver tables: `user_id` plays the video,
the row_number of an event in its user's timeline plays the shot
ordinal, `documents.source` plays the video for grouping/ignore
algebra, and orders' date windows play shot frame ranges."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import index_store, tables
from multi_search_retrival_big_data_spark.operators import filters, grouping, sparse, temporal
from multi_search_retrival_big_data_spark.queries import query
from multi_search_retrival_big_data_spark.queries.common import sql_det_round, sql_vec
from multi_search_retrival_big_data_spark.queries.sparse_queries import tfidf_cte

_SEQ = """
    seqd AS (
      SELECT event_id, user_id, ts, value, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
      FROM events
    )"""


@query(
    "range_assign_items_to_windows",
    oracle="""
    SELECT o.o_orderkey, COUNT(*) AS n_in_window
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderkey
    ORDER BY o.o_orderkey
    """,
)
def range_assign_items_to_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — keyframe→shot containment assignment
    (data_preparation.ipynb cell 5): items fall into their parent's
    [start, end] range; the equality key keeps it a hash join."""
    li = tables.load(spark, "lineitem", sf_dir)
    o = tables.load(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    assigned = temporal.range_assign(
        li.select("l_orderkey", "l_shipdate"),
        o.select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.col("o_orderdate").alias("w_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("w_end"),
        ),
        item_point="l_shipdate",
        range_start="w_start",
        range_end="w_end",
        keys=["l_orderkey"],
    )
    return (
        assigned.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count("*").alias("n_in_window"))
        .orderBy("o_orderkey")
    )


@query(
    "search_space_algebra",
    oracle="""
    WITH ignored AS (SELECT source FROM documents WHERE doc_id IN (1, 5, 9)),
    removed AS (SELECT doc_id FROM documents WHERE source IN (SELECT source FROM ignored)),
    keep AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'de')),
    space AS (SELECT doc_id FROM documents WHERE n_chars > 200)
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
      AND d.doc_id IN (SELECT doc_id FROM keep)
      AND d.doc_id IN (SELECT doc_id FROM space)
    ORDER BY d.doc_id
    """,
)
def search_space_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 — ignore-expansion + complement + intersections
    (app.py:192-203, 318-328): ignored ids expand to their whole
    source group (the 'whole shot'), complement is an anti-join,
    intersections are semi-joins."""
    docs = tables.load(spark, "documents", sf_dir)
    ignore = tables.local_frame(spark, [(1,), (5,), (9,)], "doc_id BIGINT")
    keep = docs.filter(F.col("lang").isin("en", "de")).select("doc_id")
    space = docs.filter(F.col("n_chars") > 200).select("doc_id")
    allowed = filters.build_search_space(
        docs, "doc_id", ["source"], ignore_ids=ignore, keep_ids=keep, space=space
    )
    return allowed.orderBy("doc_id")


_QTXT = sparse.query_terms("slow scan table filter")


@query(
    "group_hits_by_source",
    oracle=f"""
    WITH {tfidf_cte('', (1, 1), _QTXT)},
    hits AS (SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 100),
    hyd AS (SELECT h.doc_id, h.score, d.source FROM hits h JOIN documents d USING(doc_id)),
    grouped AS (
      SELECT source, MAX(score) AS best_score, COUNT(*) AS hit_count
      FROM hyd GROUP BY source
    ),
    best AS (
      SELECT h.source, MIN(h.doc_id) AS best_id
      FROM hyd h JOIN grouped g ON h.source = g.source AND h.score = g.best_score
      GROUP BY h.source
    )
    SELECT g.source, g.best_score, g.hit_count, b.best_id
    FROM grouped g JOIN best b ON g.source = b.source
    ORDER BY g.best_score DESC, g.source
    """,
)
def group_hits_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 + Q18 — hydrate hits with dimension attrs (broadcast inner
    join drops unknown ids, `_gather_infos` semantics) and group by
    the parent entity ranked by best hit (search_utils.py:62-93)."""
    docs = tables.load(spark, "documents", sf_dir)
    hits = sparse.tfidf_score(
        index_store.tfidf_postings(spark, sf_dir), _QTXT, k=100, round_to=6
    )
    hyd = grouping.hydrate(hits, docs, "doc_id", ["source"])
    return grouping.group_hits(hyd, ["source"], "doc_id", "score")


@query(
    "group_quota_topk",
    oracle=f"""
    WITH {tfidf_cte('', (1, 1), _QTXT)},
    hits AS (SELECT doc_id, score FROM topk ORDER BY score DESC, doc_id LIMIT 100),
    hyd AS (SELECT h.doc_id, h.score, d.source FROM hits h JOIN documents d USING(doc_id)),
    rnk AS (
      SELECT doc_id, score, source,
             row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rn
      FROM hyd
    )
    SELECT doc_id, score, source FROM rnk WHERE rn <= 2
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def group_quota_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15-adjacent serving diversity: the final result page keeps at
    most 2 hits per parent source, then ranks globally — the quota
    rule UIs layer on the reference's group-by-video presentation
    (search_utils.py:62-93) so one video cannot monopolize the page.
    Window and sort both run over the request-sized top-100 candidate
    list only (grouping.quota_topk scale notes)."""
    docs = tables.load(spark, "documents", sf_dir)
    hits = sparse.tfidf_score(
        index_store.tfidf_postings(spark, sf_dir), _QTXT, k=100, round_to=6
    )
    hyd = grouping.hydrate(hits, docs, "doc_id", ["source"])
    return grouping.quota_topk(hyd, "source", quota=2, k=20).select(
        "doc_id", "score", "source"
    )


@query(
    "hydrate_dense_hits",
    oracle="""
    WITH hits AS (
      SELECT vec_id, label FROM embeddings WHERE label >= 8
    )
    SELECT h.vec_id, h.label, d.lang, d.source, d.n_chars
    FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    ORDER BY h.vec_id
    """,
)
def hydrate_dense_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 standalone — metadata enrichment via broadcast inner join;
    embedding ids missing from `documents` drop out exactly like the
    reference's dict-miss skip (faiss_processing.py:61-82)."""
    emb = tables.load(spark, "embeddings", sf_dir)
    docs = tables.load(spark, "documents", sf_dir)
    hits = emb.filter(F.col("label") >= 8).select("vec_id", "label")
    out = grouping.hydrate(hits, docs.withColumnRenamed("doc_id", "vec_id"),
                           "vec_id", ["lang", "source", "n_chars"])
    return out.orderBy("vec_id")


@query(
    "temporal_requery_shots",
    oracle=f"""
    WITH {_SEQ},
    anchors AS (
      SELECT * FROM seqd WHERE event_type = 'view'
      ORDER BY value DESC, event_id LIMIT 20
    ),
    candsn AS (
      SELECT DISTINCT s.user_id, s.event_id, s.value
      FROM seqd s JOIN anchors a
        ON s.user_id = a.user_id AND s.seq > a.seq AND s.seq <= a.seq + 3
    ),
    candsp AS (
      SELECT DISTINCT s.user_id, s.event_id, s.value
      FROM seqd s JOIN anchors a
        ON s.user_id = a.user_id AND s.seq < a.seq AND s.seq >= a.seq - 3
    ),
    prevb AS (SELECT user_id, MAX(value) AS prev_best FROM anchors GROUP BY 1),
    curbn AS (SELECT user_id, MAX(value) AS cur_best FROM candsn GROUP BY 1),
    curbp AS (SELECT user_id, MAX(value) AS cur_best FROM candsp GROUP BY 1)
    SELECT 'next' AS mode, c.user_id, c.cur_best, p.prev_best,
           c.cur_best + p.prev_best AS combined
    FROM curbn c JOIN prevb p USING(user_id)
    UNION ALL
    SELECT 'prev', c.user_id, c.cur_best, p.prev_best,
           c.cur_best + p.prev_best
    FROM curbp c JOIN prevb p USING(user_id)
    ORDER BY mode, combined DESC, user_id
    """,
)
def temporal_requery_shots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 — 'filter video' temporal re-query, BOTH modes in one
    row-set (search_utils.py:96-221): anchors from a previous result
    expand to the next (mode='next', :96-150) or previous (mode='prev',
    :151-158) R=3 positions in their group's timeline; candidates are
    re-scored and the group's final rank is current best + previous
    best (:216-220), emitted with its two addends so the oracle pins
    the combined rank AND its decomposition for each mode. One shared
    anchor pass; per mode, one bounded range condition riding the group
    equi-join, then two bounded-cardinality aggregates. (Merged from
    the next/prev row pair — r7 verdict item 4.)"""
    ev = tables.load(spark, "events", sf_dir)
    seqd = temporal.sequence_rank(ev, ["user_id"], ["ts", "event_id"])
    anchors = (
        seqd.filter(F.col("event_type") == "view")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(20)
    )
    prevb = anchors.groupBy("user_id").agg(F.max("value").alias("prev_best"))
    outs = []
    for label, mode in (("next", 1), ("prev", 2)):
        cands = temporal.temporal_neighborhood(
            anchors.select("user_id", "seq"),
            seqd.select("user_id", "event_id", "value", "seq"),
            keys=["user_id"], mode=mode, range_filter=3,
        ).select("user_id", "event_id", "value").distinct()
        curb = cands.groupBy("user_id").agg(F.max("value").alias("cur_best"))
        outs.append(
            curb.join(prevb, "user_id").select(
                F.lit(label).alias("mode"),
                "user_id", "cur_best", "prev_best",
                (F.col("cur_best") + F.col("prev_best")).alias("combined"),
            )
        )
    return outs[0].union(outs[1]).orderBy("mode", F.desc("combined"), "user_id")


@query(
    "neighborhood_browse",
    oracle=f"""
    WITH {_SEQ},
    anchor AS (SELECT user_id, seq FROM seqd WHERE event_id = 500)
    SELECT s.event_id, s.user_id, s.seq, s.event_type
    FROM seqd s JOIN anchor a
      ON s.user_id = a.user_id AND s.seq BETWEEN a.seq - 5 AND a.seq + 5
    ORDER BY s.seq
    """,
)
def neighborhood_browse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 — shot-context browse (/getvideoshot, app.py:511-513): the
    ±5 positions around a selected item in its group timeline."""
    ev = tables.load(spark, "events", sf_dir)
    seqd = temporal.sequence_rank(ev, ["user_id"], ["ts", "event_id"]).select(
        "event_id", "user_id", "seq", "event_type"
    )
    anchor_row = seqd.filter(F.col("event_id") == 500).select(
        F.col("user_id").alias("a_user"), F.col("seq").alias("a_seq")
    )
    return (
        seqd.join(F.broadcast(anchor_row), on=F.col("user_id") == F.col("a_user"))
        .filter(
            (F.col("seq") >= F.col("a_seq") - 5) & (F.col("seq") <= F.col("a_seq") + 5)
        )
        .select("event_id", "user_id", "seq", "event_type")
        .orderBy("seq")
    )


@query(
    "browse_first_n",
    oracle="SELECT doc_id, source FROM documents ORDER BY doc_id LIMIT 500",
)
def browse_first_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q23 — pagination browse (/data, app.py:260-268): first 500 by
    id (the reference's dict iteration order is id order)."""
    docs = tables.load(spark, "documents", sf_dir)
    return docs.select("doc_id", "source").orderBy("doc_id").limit(500)


def _fake_query_vec(text: str) -> list[float]:
    from multi_search_retrival_big_data_spark.encoders import (
        FakeTextEncoder,
        IdentityTranslator,
        encode_query,
    )

    return encode_query(text, FakeTextEncoder(), IdentityTranslator())


_ENDPOINT_TEXT = "Fast Spark JOIN plans"
_ENDPOINT_QV = _fake_query_vec(_ENDPOINT_TEXT)


@query(
    "endpoint_textsearch_grouped",
    oracle=f"""
    WITH hits AS (
      SELECT vec_id, {sql_det_round(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {sql_vec(_ENDPOINT_QV)}) /"
        f"(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *"
        f" sqrt(list_dot_product({sql_vec(_ENDPOINT_QV)}, {sql_vec(_ENDPOINT_QV)})))"
    )} AS score
      FROM embeddings ORDER BY score DESC, vec_id LIMIT 100
    ),
    hyd AS (SELECT h.vec_id, h.score, e.label FROM hits h JOIN embeddings e USING(vec_id)),
    grouped AS (
      SELECT label, MAX(score) AS best_score, COUNT(*) AS hit_count FROM hyd GROUP BY label
    ),
    best AS (
      SELECT h.label, MIN(h.vec_id) AS best_id
      FROM hyd h JOIN grouped g ON h.label = g.label AND h.score = g.best_score
      GROUP BY h.label
    )
    SELECT g.label, g.best_score, g.hit_count, b.best_id
    FROM grouped g JOIN best b USING(label)
    ORDER BY g.best_score DESC, g.label
    """,
)
def endpoint_textsearch_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /textsearch endpoint pipeline through the facade
    (api.SearchEngine.text_search): Q21 translate → deterministic
    encoder → Q1 top-k → Q18 hydrate → Q15 group — the whole serving
    path under the oracle gate (the fake encoder is a pure md5
    function, so the oracle embeds the identical query vector)."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    return SearchEngine(spark, sf_dir).text_search(_ENDPOINT_TEXT, k=100)


# --- /panel facade: canned drawn-panel request, compiled at import
# time by the SAME driver-side compiler the facade uses (Q20,
# functions/visual.parse_panel — reference utils/parse_frontend.py:3-52)
_PANEL_REQUEST = {
    "dragObject": [
        {"type": "car",
         "position": {"xTop": 0.1, "yTop": 0.1, "xBottom": 0.45, "yBottom": 0.4}},
        {"type": "red",
         "position": {"xTop": 0.5, "yTop": 0.55, "xBottom": 0.9, "yBottom": 0.95}},
    ],
    "tags": ["fast", "join", "window"],
    "amount": "merge, scan",
}


def _panel_qterms() -> dict[str, list[tuple[str, int]]]:
    from multi_search_retrival_big_data_spark.functions import visual

    channels = visual.parse_panel(_PANEL_REQUEST)
    return {
        ch: sorted({t: toks.count(t) for t in set(toks)}.items())
        for ch, toks in channels.items()
        if toks
    }


def _panel_oracle(k: int = 50) -> str:
    """Four per-channel TF-IDF CTE chains over the COMPILED panel
    tokens (bbox/color channels match no corpus term and contribute
    empty top-k's on both engines — exactly like the Spark plan),
    min-max fused, grouped by source."""
    qterms = _panel_qterms()
    prefixes = {ch: f"{ch[:2]}_" for ch in sorted(qterms)}
    chains = ",\n    ".join(
        tfidf_cte(p, (1, 1), qterms[ch]).lstrip().removeprefix(",").strip()
        for ch, p in prefixes.items()
    )
    tops = ",\n    ".join(
        f"{p}top AS (SELECT doc_id, score FROM {p}topk ORDER BY score DESC, doc_id LIMIT {k})"
        for p in prefixes.values()
    )
    norms = ",\n    ".join(
        f"""{p}mm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM {p}top),
    {p}nrm AS (
      SELECT doc_id, (score - mm.mn) / (mm.mx - mm.mn + 1e-6) AS score
      FROM {p}top CROSS JOIN {p}mm mm
    )"""
        for p in prefixes.values()
    )
    union = " UNION ALL ".join(f"SELECT * FROM {p}nrm" for p in prefixes.values())
    return f"""
    WITH {chains},
    {tops},
    {norms},
    fused AS (
      SELECT doc_id,
             CAST(SUM(CAST(FLOOR(score * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM ({union}) u GROUP BY 1
    ),
    ftop AS (
      SELECT doc_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
      FROM fused ORDER BY score DESC, doc_id LIMIT {k}
    ),
    hyd AS (SELECT f.doc_id, f.score, d.source FROM ftop f JOIN documents d USING(doc_id)),
    grouped AS (
      SELECT source, MAX(score) AS best_score, COUNT(*) AS hit_count FROM hyd GROUP BY source
    ),
    best AS (
      SELECT h.source, MIN(h.doc_id) AS best_id
      FROM hyd h JOIN grouped g ON h.source = g.source AND h.score = g.best_score
      GROUP BY h.source
    )
    SELECT g.source, g.best_score, g.hit_count, b.best_id
    FROM grouped g JOIN best b USING(source)
    ORDER BY g.best_score DESC, g.source
    """


@query("endpoint_panel_search", oracle=_panel_oracle())
def endpoint_panel_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /panel endpoint pipeline through the facade
    (api.SearchEngine.panel_search, reference app.py:368-406): a canned
    dragObject+tags+amount request compiled by the Q20 grid encoder
    (functions/visual.parse_panel — the last previously pytest-only §2
    row, now inside an oracle-checked plan), term-counted per channel,
    scored by the persisted 4-channel TF-IDF index in ONE linear plan,
    min-max fused (Q8), hydrated and grouped by source (Q18/Q15). The
    bbox/color channels compile real grid-cell tokens that match no
    corpus term — they contribute empty channels identically on both
    engines, proving the empty-channel skip the reference applies to
    None channels (faiss_processing.py:241-258)."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    return SearchEngine(spark, sf_dir).panel_search(_PANEL_REQUEST, k=50, group=True)


@query(
    "endpoint_image_search",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 42)
    SELECT e.vec_id, {sql_det_round(
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.v) /"
        "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *"
        " sqrt(list_dot_product(q.v, q.v)))"
    )} AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id
    LIMIT 50
    """,
)
def endpoint_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /imgsearch endpoint through the facade
    (api.SearchEngine.image_search → Q2 knn_by_id; reference
    app.py:409-427: reconstruct stored vector + search): the anchor
    vector stays in-plan as a 1-row broadcast."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    return SearchEngine(spark, sf_dir).image_search(42, k=50)


@query(
    "endpoint_recommend",
    oracle=f"""
    SELECT vec_id, {sql_det_round(
        f"list_distance(CAST(embedding AS DOUBLE[]), {sql_vec(_ENDPOINT_QV)})"
    )} AS dist
    FROM embeddings
    ORDER BY dist ASC, vec_id
    LIMIT 50
    """,
)
def endpoint_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /getrec endpoint through the facade
    (api.SearchEngine.recommend → Q17 vocab L2 KNN; reference
    app.py:443-466 tag recommendation over the vocab embedding
    table), with the deterministic encoder's query vector embedded in
    the oracle like endpoint_textsearch_grouped."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    return SearchEngine(spark, sf_dir).recommend(_ENDPOINT_TEXT, k=50)


@query(
    "endpoint_related_browse",
    oracle="""
    WITH seq AS (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS seq
      FROM documents
    ),
    anchor AS (SELECT source AS a_src, seq AS a_seq FROM seq WHERE doc_id = 77)
    SELECT s.doc_id, s.source, s.lang, s.n_chars, s.seq
    FROM seq s JOIN anchor a
      ON s.source = a.a_src AND s.seq BETWEEN a.a_seq - 5 AND a.a_seq + 5
    ORDER BY s.seq
    """,
)
def endpoint_related_browse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The /relatedimg–/getvideoshot endpoint through the facade
    (api.SearchEngine.related → Q19 ±5 neighborhood; reference
    app.py:499-541): the anchor row is resolved IN-PLAN by id (1-row
    broadcast join), no driver round-trip."""
    from multi_search_retrival_big_data_spark.api import SearchEngine

    return (
        SearchEngine(spark, sf_dir)
        .related(77, radius=5)
        .select("doc_id", "source", "lang", "n_chars", "seq")
        .orderBy("seq")
    )


_FEEDBACK_VOTES = ([3, 7], [11])  # (positive ids, negative ids)


@query(
    "endpoint_feedback_rerank",
    oracle=f"""
    WITH cand AS (
      SELECT vec_id, {sql_det_round(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), {sql_vec(_ENDPOINT_QV)}) /"
        f"(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *"
        f" sqrt(list_dot_product({sql_vec(_ENDPOINT_QV)}, {sql_vec(_ENDPOINT_QV)})))"
    )} AS score
      FROM embeddings ORDER BY score DESC, vec_id LIMIT 20
    ),
    votes(vid, sign) AS (VALUES {", ".join(
        [f"({i}, 1.0)" for i in _FEEDBACK_VOTES[0]]
        + [f"({i}, -1.0)" for i in _FEEDBACK_VOTES[1]]
    )}),
    kept AS (
      SELECT c.vec_id, c.score FROM cand c
      WHERE c.vec_id NOT IN (SELECT vid FROM votes WHERE sign < 0)
    ),
    pairs AS (
      SELECT k.vec_id, k.score AS prev_score,
             v.sign * (list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(ev.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(ev.embedding AS DOUBLE[]), CAST(ev.embedding AS DOUBLE[]))))) AS delta
      FROM kept k
      JOIN embeddings e ON e.vec_id = k.vec_id
      CROSS JOIN votes v
      JOIN embeddings ev ON ev.vec_id = v.vid
    ),
    rr AS (
      SELECT vec_id,
             {sql_det_round("prev_score + CAST(SUM(CAST(FLOOR(delta * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12")} AS score
      FROM pairs GROUP BY vec_id, prev_score
      ORDER BY score DESC, vec_id LIMIT 10
    ),
    hyd AS (SELECT r.vec_id, r.score, e.label FROM rr r JOIN embeddings e USING(vec_id)),
    grouped AS (
      SELECT label, MAX(score) AS best_score, COUNT(*) AS hit_count FROM hyd GROUP BY label
    ),
    best AS (
      SELECT h.label, MIN(h.vec_id) AS best_id
      FROM hyd h JOIN grouped g ON h.label = g.label AND h.score = g.best_score
      GROUP BY h.label
    )
    SELECT g.label, g.best_score, g.hit_count, b.best_id
    FROM grouped g JOIN best b USING(label)
    ORDER BY g.best_score DESC, g.label
    """,
)
def endpoint_feedback_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /feedback endpoint pipeline through the facade
    (reference app.py:543-556: reranking → group_result_by_video →
    enrich): a previous /textsearch result (ungrouped top-20 through
    the Arrow scorer) re-ranked by Rocchio relevance feedback
    (Q3, SearchEngine.feedback) with canned up/down votes, then
    hydrated and grouped by parent label (Q18/Q15) exactly like the
    serving path."""
    from multi_search_retrival_big_data_spark.api import SearchEngine
    from multi_search_retrival_big_data_spark.operators import grouping as _grouping

    eng = SearchEngine(spark, sf_dir)
    prev = eng.text_search(_ENDPOINT_TEXT, k=20, group=False)
    reranked = eng.feedback(prev, *_FEEDBACK_VOTES, k=10)
    hyd = _grouping.hydrate(reranked, eng.emb, "vec_id", ["label"])
    return _grouping.group_hits(hyd, ["label"], "vec_id")


@query(
    "group_members_collect",
    oracle=f"""
    WITH {_SEQ},
    hits AS (
      SELECT event_id, user_id, value FROM seqd WHERE event_type = 'purchase'
      ORDER BY value DESC, event_id LIMIT 100
    )
    SELECT user_id,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY value DESC, event_id) AS members,
           COUNT(*) AS hit_count
    FROM hits GROUP BY user_id
    ORDER BY user_id
    """,
)
def group_members_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 collect variant — the rank-ordered member list per group
    (reference lst_idxs per video, search_utils.py:62-93), serialized
    to a CSV string so the oracle hash covers the ORDER of members."""
    ev = tables.load(spark, "events", sf_dir)
    hits = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
        .orderBy(F.desc("value"), F.asc("event_id"))
        .limit(100)
    )
    members = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("value")).alias("ns"), F.col("event_id").alias("id"))
                )
            ),
            lambda x: x["id"].cast("string"),
        ),
        ",",
    )
    return (
        hits.groupBy("user_id")
        .agg(members.alias("members"), F.count(F.lit(1)).alias("hit_count"))
        .orderBy("user_id")
    )


@query(
    "events_lag_lead_cumulative",
    oracle=f"""
    WITH w AS (
      SELECT user_id, event_id, ts, value,
             lag(event_id)  OVER win AS prev_event,
             lead(event_id) OVER win AS next_event,
             CAST(date_diff('microseconds', lag(ts) OVER win, ts) AS BIGINT) AS micros_since_prev,
             CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS DECIMAL(38,0)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value_q
      FROM events
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, prev_event, next_event, micros_since_prev, cum_value_q
    FROM w
    WHERE user_id < 10
    ORDER BY user_id, event_id
    """,
)
def events_lag_lead_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead neighbors + inter-event gap + running cumulative sum
    per user — the remaining §2.3 window shapes (the reference's
    union(lag,lead) alternative for S7 and running-state timelines),
    quantized so the running sum is bit-portable."""
    from pyspark.sql.window import Window

    ev = tables.load(spark, "events", sf_dir)
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    q = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)")
    return (
        ev.filter(F.col("user_id") < 10)
        .select(
            "user_id",
            "event_id",
            F.lag("event_id").over(win).alias("prev_event"),
            F.lead("event_id").over(win).alias("next_event"),
            (
                F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(win))
            ).alias("micros_since_prev"),
            F.sum(q).over(cum).cast("bigint").alias("cum_value_q"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "events_resample_hourly_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             count(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e6 AS hour_value
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT min(h) AS mn, max(h) AS mx FROM hourly),
    grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM span),
    types AS (SELECT DISTINCT event_type FROM events),
    filled AS (
      SELECT g.h, t.event_type,
             coalesce(x.n_events, 0) AS n_events,
             x.hour_value
      FROM grid g CROSS JOIN types t
      LEFT JOIN hourly x ON x.h = g.h AND x.event_type = t.event_type
    )
    SELECT h, event_type, n_events,
           last_value(hour_value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY h
             ROWS UNBOUNDED PRECEDING
           ) AS carried_value
    FROM filled
    ORDER BY event_type, h
    """,
)
def events_resample_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: hourly per-type buckets densified onto
    the full hour grid (missing hours appear with n_events = 0) with
    the last observed hourly value carried forward — the
    resample+ffill shape every metrics/feature pipeline needs and the
    reference (a request/response engine) never had.

    Plan: ONE aggregation builds the observed buckets; the hour grid
    comes from exploding a 1-row min/max span (no driver round-trip);
    densify = grid × type-dim (a deliberate small×small cartesian —
    the dimension table IS the product space) left-joined to the
    observed buckets; forward fill = last(ignorenulls) over a
    per-type window. Hourly sums are quantized (1e-6), so the carried
    values are engine-exact. At scale the window partitions by the
    series key — bounded series cardinality is the operating
    assumption, same as events_rank_percentiles."""
    from pyspark.sql.window import Window

    ev = tables.load(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("decimal(38,0)"))
            .cast("double")
            / F.lit(1e6)
        ).alias("hour_value"),
    )
    span = hourly.agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
    grid = span.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    filled = (
        grid.crossJoin(F.broadcast(types))
        .join(hourly, ["h", "event_type"], "left")
        .select(
            "h",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "hour_value",
        )
    )
    w = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        filled.select(
            "h",
            "event_type",
            "n_events",
            F.last("hour_value", ignorenulls=True).over(w).alias("carried_value"),
        )
        .orderBy("event_type", "h")
    )
