"""Offline ingestion pipeline (SURVEY.md §2.1 S1-S17) as Spark jobs.

The reference ingests with a chain of notebooks: walk videos (S1), shot
detection (S2), keyframe→shot assignment + dense global ids (S3), VAD +
ASR (S4/S5), segment↔shot bridges (S6/S7), CLIP encode (S8), OCR/tag/
color context (S10-S12), TF-IDF fit (S14), JSON sinks (S17). Here the
same chain is a set of DataFrame jobs producing the engine's canonical
parquet tables, partitioned by `collection`:

    videos → shots → keyframes(+global id) → embeddings
                   → audio_segments → seg↔keyframe bridges
                   → context docs → postings

Model calls (shot detector, VAD, ASR, CLIP, OCR) are deterministic
fakes behind the same seams production models plug into (see
operators/multimodal.py, encoders.py) — the DATAFLOW (schemas, joins,
partitioning, sink layout) is the real thing and is what these jobs
test.

Scale notes: every job is per-video parallel (no cross-video state);
the only global operation is the dense-id enumeration (S3),
operators/temporal.dense_global_ids — range partitions, a per-partition
row_number and prefix-sum offsets, never a single-task window; sinks
are `partitionBy("collection")` so every downstream query prunes
partitions on the reference's `data_part` key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import bridges, temporal

FPS = 25.0
SHOT_LEN_FRAMES = 100  # fake detector: fixed-length shots
KEYFRAMES_PER_SHOT = 3
SEG_LEN_SEC = 6.0


def synth_videos(spark: SparkSession, collections: int = 2, videos_per: int = 3,
                 frames_per_video: int = 1000) -> DataFrame:
    """S1 — the video catalog scan (reference: dir walk + cv2 fps
    probe). Synthesized deterministically here; production replaces
    this with spark.read.format('binaryFile') + a metadata UDF."""
    rows = [
        (f"L{c:02d}", f"V{v:03d}", FPS, frames_per_video)
        for c in range(1, collections + 1)
        for v in range(1, videos_per + 1)
    ]
    return tables.local_frame(
        spark, rows, "collection STRING, video STRING, fps DOUBLE, n_frames INT"
    )


def detect_shots(videos: DataFrame) -> DataFrame:
    """S2 — shot detection. The reference runs TransNetV2 / GPU
    frame-diff / PySceneDetect per video (SceneJSON.ipynb); the fake
    cuts fixed-length shots. Same output contract:
    (collection, video, shot, start_frame, end_frame, start_sec, end_sec)."""
    shots = videos.select(
        "collection",
        "video",
        "fps",
        F.explode(
            F.sequence(
                F.lit(0), F.floor((F.col("n_frames") - 1) / SHOT_LEN_FRAMES).cast("int")
            )
        ).alias("shot"),
        "n_frames",
    )
    start = F.col("shot") * SHOT_LEN_FRAMES
    end = F.least(start + SHOT_LEN_FRAMES - 1, F.col("n_frames") - 1)
    return shots.select(
        "collection",
        "video",
        F.col("shot").cast("int").alias("shot"),
        start.cast("int").alias("start_frame"),
        end.cast("int").alias("end_frame"),
        (start / F.col("fps")).alias("start_sec"),
        ((end + 1) / F.col("fps")).alias("end_sec"),
    )


def extract_keyframes(shots: DataFrame) -> DataFrame:
    """Keyframe sampling: K evenly-spaced frames per shot (reference
    uses competition-provided keyframes; the sampling rule is the
    ingest-side contract)."""
    return shots.select(
        "collection",
        "video",
        "shot",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(KEYFRAMES_PER_SHOT - 1)),
                lambda i: F.col("start_frame")
                + ((F.col("end_frame") - F.col("start_frame")) * i)
                / (KEYFRAMES_PER_SHOT - 1),
            )
        ).alias("frame_idx"),
    ).select(
        "collection", "video", "shot", F.col("frame_idx").cast("int").alias("frame_idx")
    ).distinct()


def assign_global_ids(keyframes: DataFrame, shots: DataFrame) -> DataFrame:
    """S3 — range-assign keyframes to shots (containment join; here a
    re-derivation check since synthesis already knows the shot) and the
    dense global id enumeration in (collection, video, frame) order —
    the reference's `dict(enumerate(...))` (data_preparation.ipynb
    cells 5-6)."""
    assigned = temporal.range_assign(
        keyframes.drop("shot"),
        shots.select("collection", "video", "shot", "start_frame", "end_frame"),
        item_point="frame_idx",
        range_start="start_frame",
        range_end="end_frame",
        keys=["collection", "video"],
    )
    with_ids = temporal.dense_global_ids(
        assigned, ["collection", "video", "frame_idx"], id_col="keyframe_id"
    )
    return with_ids.select(
        "keyframe_id", "collection", "video", "shot", "frame_idx",
        (F.col("frame_idx") / F.lit(FPS)).alias("sec"),
    )


def detect_audio_segments(videos: DataFrame) -> DataFrame:
    """S4 — VAD segments (reference: pyannote per video). Fake: fixed
    SEG_LEN_SEC tiling of the video duration."""
    dur = F.col("n_frames") / F.col("fps")
    segs = videos.select(
        "collection",
        "video",
        F.explode(F.sequence(F.lit(0), F.floor(dur / SEG_LEN_SEC).cast("int"))).alias("seg"),
        dur.alias("dur"),
    )
    s = F.col("seg") * SEG_LEN_SEC
    return (
        segs.filter(s < F.col("dur"))
        .select(
            "collection",
            "video",
            F.col("seg").cast("int").alias("seg"),
            s.alias("start_sec"),
            F.least(s + SEG_LEN_SEC, F.col("dur")).alias("end_sec"),
        )
    )


def build_bridges(keyframes: DataFrame, shots: DataFrame, segments: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S6 + S7 — (a) audio_seg → keyframes of time-overlapping shots
    (interval join, bucketed); (b) per shot, the 2 nearest segment
    centers fanned to the shot's keyframes (as-of join)."""
    sh = shots.select(
        "collection", "video", "shot",
        F.col("start_sec").alias("sh_start"), F.col("end_sec").alias("sh_end"),
    )
    seg = segments.select(
        "collection", "video", "seg",
        F.col("start_sec").alias("sg_start"), F.col("end_sec").alias("sg_end"),
    )
    overlap = bridges.interval_join(
        seg, sh, "sg_start", "sg_end", "sh_start", "sh_end",
        keys=["collection", "video"], bucket_seconds=SEG_LEN_SEC,
    )
    audio2img = overlap.join(
        keyframes.select("collection", "video", "shot", "keyframe_id"),
        ["collection", "video", "shot"],
    ).select("collection", "video", "seg", "keyframe_id")

    sh_center = sh.withColumn("sh_c", (F.col("sh_start") + F.col("sh_end")) / 2)
    sg_center = seg.withColumn("sg_c", (F.col("sg_start") + F.col("sg_end")) / 2)
    nearest = bridges.nearest_neighbors_join(
        sh_center, sg_center, "sh_c", "sg_c", n=2,
        keys=["collection", "video"], l_id="shot", r_id="seg",
    )
    img2audio = nearest.join(
        keyframes.select("collection", "video", "shot", "keyframe_id"),
        ["collection", "video", "shot"],
    ).select("collection", "video", "keyframe_id", "seg")
    return audio2img, img2audio


def encode_keyframes(keyframes: DataFrame, dim: int = 8) -> DataFrame:
    """S8 — batch image encode (reference: CLIP, L2-normalized at
    write). Fake: md5-derived pseudo-embedding of the keyframe key via
    the same Catalyst-only hash trick used everywhere (no model in
    container), then L2-normalized — preserving the ingest-time
    invariant that makes query-time cosine a plain dot product."""
    from multi_search_retrival_big_data_spark.functions.vector import l2_normalize

    key = F.concat_ws("_", "collection", "video", F.col("frame_idx").cast("string"))
    raw = F.array(
        *[
            (
                F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}:"), key)), 1, 8), 16, 10).cast("double")
                / F.lit(float(0xFFFFFFFF))
                - F.lit(0.5)
            )
            for i in range(dim)
        ]
    )
    return keyframes.select(
        "keyframe_id", "collection", l2_normalize(raw).alias("embedding")
    )


def run(spark: SparkSession, out_dir: str, collections: int = 2, videos_per: int = 3) -> dict[str, str]:
    """Execute the full chain and write canonical parquet tables
    partitioned by collection (S17). Returns table → path."""
    videos = synth_videos(spark, collections, videos_per)
    shots = detect_shots(videos)
    kf = extract_keyframes(shots)
    keyframes = assign_global_ids(kf, shots)
    segments = detect_audio_segments(videos)
    audio2img, img2audio = build_bridges(keyframes, shots, segments)
    embeddings = encode_keyframes(keyframes)

    tables = {
        "videos": videos,
        "shots": shots,
        "keyframes": keyframes,
        "audio_segments": segments,
        "audio2img": audio2img,
        "img2audio": img2audio,
        "embeddings": embeddings,
    }
    out = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, name)
        writer = df.write.mode("overwrite")
        if "collection" in df.columns:
            writer = writer.partitionBy("collection")
        writer.parquet(path)
        out[name] = path
    return out


def incremental_append(
    spark: SparkSession, new_rows: DataFrame, sink_path: str, key_cols: list[str]
) -> int:
    """Idempotent incremental ingest (the reference's skip-if-exists
    re-ingest: clip.ipynb cell 7, ocr.ipynb cell 6, SceneJSON.ipynb
    SKIP_EXISTING): anti-join the incoming batch against the sink's
    existing keys and append only the novel rows. Re-running the same
    batch is a no-op. Returns the number of rows appended.

    At scale the anti-join prunes on the sink's partition columns when
    key_cols lead with them; Structured Streaming's checkpoint log is
    the other idempotency option (streaming/ingest.py)."""
    try:
        existing = spark.read.parquet(sink_path).select(*key_cols)
    except Exception:  # first run: sink does not exist yet
        new_rows.write.mode("overwrite").parquet(sink_path)
        return new_rows.count()
    novel = new_rows.join(existing, key_cols, "left_anti")
    n = novel.count()
    if n:
        novel.write.mode("append").parquet(sink_path)
    return n
