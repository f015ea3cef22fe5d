"""Engine facade — the reference's HTTP surface (app.py endpoints) as
composable DataFrame methods, so a user of the reference can run every
query they run today against the Spark engine:

| reference endpoint            | facade method        | SURVEY ops |
|-------------------------------|----------------------|------------|
| POST /textsearch              | text_search          | Q1 Q13 Q14 Q15 Q16 Q18 Q21 |
| GET  /imgsearch               | image_search         | Q2 |
| POST /panel                   | panel_search         | Q20 Q4-Q8 Q18 |
| POST /feedback                | feedback             | Q3 |
| POST /getrec                  | recommend            | Q17 |
| GET  /relatedimg /getvideoshot| related              | Q19 |
| POST /translate               | translate            | Q21 |
| GET  /data                    | browse               | Q23 |
| (beyond-ref) hybrid /search   | diverse_search       | RRF + MMR |

Every method returns a lazy DataFrame (the caller collects/serializes);
nothing here adds logic — it only composes the operators, mirroring the
reference's fixed call tree (SURVEY.md §3) as a Catalyst plan.

Corpus mapping onto the driver's synthetic tables: `embeddings` is the
dense index (vec_id ≙ keyframe id), `label` its grouping dimension
(≙ video), `documents` the sparse context corpus (doc_id ≙ keyframe,
source ≙ video, ordinal-within-source ≙ shot sequence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multi_search_retrival_big_data_spark import encoders, index_store, tables
from multi_search_retrival_big_data_spark.functions import visual
from multi_search_retrival_big_data_spark.operators import (
    dense,
    filters,
    fusion,
    grouping,
    sparse,
    temporal,
)


class SearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str = tables.DEFAULT_SF_DIR,
        text_encoder: encoders.TextEncoder | None = None,
        translator: encoders.Translator | None = None,
        spell: encoders.SpellCorrector | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.encoder = text_encoder or encoders.FakeTextEncoder()
        self.translator = translator or encoders.IdentityTranslator()
        self.spell = spell or encoders.IdentitySpellCorrector()
        self.emb = tables.load(spark, "embeddings", sf_dir)
        self.docs = tables.load(spark, "documents", sf_dir)
        # fitted sparse index persisted term-bucketed and shared across
        # panel searches — the reference's fitted-artifact load
        # (object_retrieval.py:117-145), never a per-query re-fit
        self._postings = index_store.multichannel_postings(
            spark, sf_dir, {"bbox": (1, 1), "color": (1, 1), "tag": (1, 1), "number": (1, 1)}
        )

    # -- /textsearch -------------------------------------------------
    def text_search(
        self,
        text: str,
        k: int = 100,
        ensemble: bool = False,
        keep_ids: DataFrame | None = None,
        ignore_ids: DataFrame | None = None,
        group: bool = True,
    ) -> DataFrame:
        """Q21 translate → Q1 encode+top-k (dual-model Q13 ensemble =
        two encoders fused by Q8) with Q14 id algebra, grouped Q15."""
        qv = encoders.encode_query(text, self.encoder, self.translator)
        subset = None
        if keep_ids is not None or ignore_ids is not None:
            subset = filters.build_search_space(
                self.emb.select("vec_id"),
                "vec_id",
                group_cols=["vec_id"],
                ignore_ids=ignore_ids,
                keep_ids=keep_ids,
            )

        # one cosine kernel; a subset search semi-joins before scoring
        hits = dense.topk_cosine(self.emb, qv, k=k, subset=subset, round_to=6)
        if ensemble:
            qv2 = encoders.encode_query(text[::-1], self.encoder, self.translator)
            hits2 = dense.topk_cosine(self.emb, qv2, k=k, subset=subset, round_to=6)
            hits = fusion.merge_by_addition([hits, hits2], k=k, round_to=6)
            hits = hits.withColumnRenamed("id", "vec_id")
        if not group:
            return hits
        hydrated = grouping.hydrate(hits, self.emb, "vec_id", ["label"])
        return grouping.group_hits(hydrated, ["label"], "vec_id")

    # -- /imgsearch --------------------------------------------------
    def image_search(self, query_id: int, k: int = 50) -> DataFrame:
        return dense.knn_by_id(self.emb, query_id, k=k, round_to=6)

    # -- /panel ------------------------------------------------------
    def panel_search(self, panel: dict, k: int = 50, group: bool = False) -> DataFrame:
        """Q20 compile → per-channel sparse search fused by Q8, then
        (like /textsearch) optionally grouped by parent via Q15/Q18.
        Channels with no tokens are skipped (reference: None channels,
        faiss_processing.py:241-258)."""
        channels = visual.parse_panel(panel)
        channel_qterms = {
            ch: sorted(
                {t: toks.count(t) for t in set(toks)}.items()
            )
            for ch, toks in channels.items()
            if toks
        }
        if channel_qterms:
            hits = sparse.multichannel_tfidf_score(
                self._postings, channel_qterms, k_per_channel=k, k=k, round_to=6
            )
        else:
            # an empty panel still takes the grouping branch, so both
            # shapes keep their schema (Catalyst folds the empty plan)
            hits = tables.local_frame(self.spark, [], "doc_id BIGINT, score DOUBLE")
        if not group:
            return hits
        hydrated = grouping.hydrate(hits, self.docs, "doc_id", ["source"])
        return grouping.group_hits(hydrated, ["source"], "doc_id")

    # -- /feedback ---------------------------------------------------
    def feedback(
        self, prev_hits: DataFrame, pos_ids: list[int], neg_ids: list[int], k: int = 50
    ) -> DataFrame:
        votes = tables.local_frame(
            self.spark,
            [(i, 1.0) for i in pos_ids] + [(i, -1.0) for i in neg_ids],
            "vec_id BIGINT, sign DOUBLE",
        )
        return dense.rocchio_rerank(self.emb, prev_hits, votes, k=k, round_to=6)

    # -- /getrec -----------------------------------------------------
    def recommend(self, text: str, k: int = 50) -> DataFrame:
        """Q17 — vocabulary KNN (reference tag recommendation uses L2
        over the tag-vocab embedding table)."""
        qv = encoders.encode_query(text, self.encoder, self.translator)
        return dense.vocab_knn_l2(self.emb, qv, k=k, round_to=6)

    # -- /relatedimg, /getvideoshot ----------------------------------
    def related(self, doc_id: int, radius: int = 5) -> DataFrame:
        """Q19 — the ±radius neighborhood of the selected item within
        its parent group, by ordinal position. The anchor stays
        in-plan (1-row broadcast join, like dense.knn_by_id) — no
        driver `.first()` round-trip; an unknown id just yields an
        empty result."""
        seq = temporal.sequence_rank(self.docs, ["source"], ["doc_id"])
        return temporal.neighborhood_browse_by_id(
            seq, ["source"], "doc_id", doc_id, radius=radius
        )

    # -- /search (beyond-reference: hybrid RRF + MMR page) -------------
    def diverse_search(
        self,
        text: str,
        query_vec: list[float] | None = None,
        n_fuse: int = 20,
        k: int = 8,
        lam: float | None = None,
    ) -> DataFrame:
        """The modern serving tail the reference's endpoints imply but
        don't compose: sparse TF-IDF and dense lists fused by
        reciprocal rank (scale-free), the fused top-n hydrated with
        vectors (broadcast into the corpus join), and an MMR page of k
        diversified hits. `query_vec` overrides the encoder seam for
        callers that already hold an embedding (the /imgsearch
        shape)."""
        from pyspark.sql import functions as F

        from multi_search_retrival_big_data_spark.operators import rerank

        qv = (
            query_vec
            if query_vec is not None
            else encoders.encode_query(text, self.encoder, self.translator)
        )
        sp = sparse.tfidf_score(
            index_store.tfidf_postings(self.spark, self.sf_dir),
            sparse.query_terms(text),
            k=100,
            round_to=6,
        )
        dn = dense.topk_cosine(self.emb, qv, k=100, round_to=6)
        fused = fusion.reciprocal_rank_fusion([sp, dn], k=n_fuse)
        cand = (
            self.emb.select("vec_id", "embedding")
            .join(F.broadcast(fused.withColumnRenamed("id", "vec_id")), "vec_id")
            .select("vec_id", "embedding", F.col("score").alias("rel"))
        )
        if lam is None:
            return rerank.mmr_rerank(cand, k=k)
        return rerank.mmr_rerank(cand, k=k, lam=lam)

    # -- /translate, spell -------------------------------------------
    def translate(self, text: str) -> str:
        return self.translator.translate(text)

    def correct_spelling(self, text: str) -> str:
        return self.spell.correct(text)

    # -- /data -------------------------------------------------------
    def browse(self, n: int = 500) -> DataFrame:
        return self.docs.orderBy("doc_id").limit(n)
