from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (0, "abc", "s0"),
        (1, "x" * 250, "s1"),
        (2, "hello world", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    return mm.as_media_table(docs)


def test_media_table_schema(media):
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,media_type:string,content:binary,"
        "meta:struct<source:string,declared_bytes:int>>"
    )
    types = {r["media_id"]: r["media_type"] for r in media.collect()}
    assert types == {0: "image", 1: "audio", 2: "video"}


def test_fake_decode_features(media):
    out = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert out[0]["byte_len"] == 3
    assert out[0]["checksum"] == (ord("a") + ord("b") + ord("c")) % mm.CHECKSUM_MOD
    assert out[0]["n_frames"] == 1
    assert out[1]["byte_len"] == 250 and out[1]["n_frames"] == 3


def test_real_decoder_is_stubbed(media):
    with pytest.raises(NotImplementedError, match="cv2"):
        mm.decode_media(media, decoder="image")


def test_frame_sample(media):
    decoded = mm.decode_media(media)
    frames = mm.frame_sample(decoded, every=2)
    got = sorted(
        (r["media_id"], r["frame_idx"]) for r in frames.collect()
    )
    # doc1 has 3 frames -> 0, 2 ; others 1 frame -> 0
    assert got == [(0, 0), (1, 0), (1, 2), (2, 0)]


def test_fake_embedding_matches_python(media):
    out = mm.fake_embedding_components(media)
    rows = out.filter(F.col("media_id") == 2).orderBy("component").collect()
    blob = b"hello world"
    sums = [0] * mm.EMBED_DIM
    for i, byte in enumerate(blob):
        sums[i % mm.EMBED_DIM] += byte
    expected = [(s % mm.EMBED_MOD) / mm.EMBED_MOD for s in sums]
    assert [r["feat"] for r in rows] == expected


def test_probe_video_only_and_consistent(media):
    out = mm.probe_video(media).collect()
    assert [r["media_id"] for r in out] == [2]  # only the video row
    r = out[0]
    blob = b"hello world"
    checksum = sum(blob) % mm.CHECKSUM_MOD
    assert r["fps"] == mm.FPS_BASE + checksum % mm.FPS_MOD
    assert r["n_frames"] == len(blob) // mm.FRAME_BYTES + 1
    assert r["duration_s"] == r["n_frames"] / r["fps"]


def test_detect_shots_tile_and_clip(media):
    shots = [r.asDict() for r in mm.detect_shots(media).collect()]
    assert {s["media_id"] for s in shots} == {2}
    blob = b"hello world"
    n_frames = len(blob) // mm.FRAME_BYTES + 1
    shot_len = mm.SHOT_BASE + sum(blob) % mm.CHECKSUM_MOD % mm.SHOT_MOD
    # shots tile [0, n_frames) contiguously, inclusive ends, last clipped
    assert shots[0]["start_frame"] == 0
    for a, b in zip(shots, shots[1:]):
        assert b["start_frame"] == a["end_frame"] + 1
        assert a["end_frame"] - a["start_frame"] == shot_len - 1
    assert shots[-1]["end_frame"] == n_frames - 1


def test_vad_segments_clip_to_duration(media):
    segs = [r.asDict() for r in mm.vad_segments(media).collect()]
    assert {s["media_id"] for s in segs} == {1}  # only the audio row
    dur = 250
    seg_len = mm.VAD_BASE + (ord("x") * 250) % mm.CHECKSUM_MOD % mm.VAD_MOD
    assert [s["start_ms"] for s in segs] == [0]  # seg_len > period? no: one start per 300ms
    assert segs[0]["end_ms"] == min(seg_len, dur)
    assert all(s["end_ms"] <= dur for s in segs)


def test_asr_transcripts_normalize(spark):
    docs = spark.createDataFrame(
        [(1, "  Hello   WORLD  ", "s"), (4, "", "s"), (7, "ONE two", "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = {
        r["media_id"]: r
        for r in mm.asr_transcripts(mm.as_media_table(docs)).collect()
    }
    assert out[1]["transcript"] == "hello world" and out[1]["n_tokens"] == 2
    assert out[4]["transcript"] == "" and out[4]["n_tokens"] == 0
    assert out[7]["transcript"] == "one two" and out[7]["n_tokens"] == 2


def test_extract_tags_score_to_freq(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma gamma tiny zz", "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = {r["tag"]: r["freq"] for r in mm.extract_tags(mm.as_media_table(docs)).collect()}
    # distinct tokens of length >= 5 only; freq = bucketed pseudo-logit in 1..10
    assert set(out) == {"alpha", "gamma"}
    assert out["alpha"] == (7 * 5 + ord("a")) % 100 // 10 + 1
    assert all(1 <= f <= 10 for f in out.values())


def test_color_grid_tokens(spark):
    docs = spark.createDataFrame(
        [(0, "x" * 60, "s")], "doc_id BIGINT, text STRING, source STRING"
    )
    rows = mm.color_grid_context(mm.as_media_table(docs)).collect()
    # 60 bytes -> cells 0..48 seen, cells 0..10 get 2 bytes
    assert len(rows) == 49
    from multi_search_retrival_big_data_spark.functions import visual

    palette = [c.replace("_", "") for c in visual.COLORS]
    by_cell = {r["cell"]: r["token"] for r in rows}
    assert by_cell["a0"] == "a0" + palette[(2 * ord("x")) % 11]
    assert by_cell["e1"] == "e1" + palette[ord("x") % 11]  # cell 11: 1 byte
    assert all(t.startswith(c) for c, t in by_cell.items())


def test_encode_corpus_matches_encoder(spark):
    from multi_search_retrival_big_data_spark import encoders

    docs = spark.createDataFrame(
        [(7, "hello", "s")], "doc_id BIGINT, text STRING, source STRING"
    )
    rows = mm.encode_corpus(docs).orderBy("component").collect()
    raw = encoders.FakeTextEncoder().raw("hello")
    assert [r["value"] for r in rows] == raw
    # encode() is the L2-normalized raw — same direction, unit norm
    import math

    enc = encoders.FakeTextEncoder().encode("hello")
    n = math.sqrt(sum(x * x for x in raw))
    assert enc == [x / n for x in raw]


def test_resize_media_downsample(media):
    out = {r["media_id"]: r for r in mm.resize_media(media, scale=4).collect()}
    # "abc" -> b"a"; "x"*250 -> 63 bytes of "x"; "hello world" -> "hor"
    assert out[0]["out_bytes"] == 1 and out[0]["out_checksum"] == ord("a")
    assert out[1]["out_bytes"] == 63
    assert out[1]["out_checksum"] == 63 * ord("x") % mm.CHECKSUM_MOD
    assert out[2]["out_bytes"] == 3
    assert out[2]["out_checksum"] == sum(b"hor") % mm.CHECKSUM_MOD
    assert all(r["scale"] == 4 for r in out.values())


def test_ocr_texts_long_tokens_only(spark):
    docs = spark.createDataFrame(
        [(0, "Big WORDS and a fe w tiny bits", "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    out = mm.ocr_texts(mm.as_media_table(docs)).collect()
    assert len(out) == 1
    assert out[0]["ocr_text"] == "words tiny bits"  # len >= 4, lowercased


# ---- perceptual (dHash) near-dup --------------------------------------


def _dhash_ref(blob: bytes) -> str:
    """Independent reference dHash (pure python, no numpy): cell MEANS
    compared via integer cross-multiplication."""
    n = len(blob)
    sums = [0] * mm.DHASH_CELLS
    counts = [0] * mm.DHASH_CELLS
    for j, b in enumerate(blob):
        sums[(j * mm.DHASH_CELLS) // n] += b
        counts[(j * mm.DHASH_CELLS) // n] += 1
    bits = []
    for r in range(mm.DHASH_ROWS):
        for k in range(mm.DHASH_COLS - 1):
            i0, i1 = r * mm.DHASH_COLS + k, r * mm.DHASH_COLS + k + 1
            bits.append("1" if sums[i0] * counts[i1] < sums[i1] * counts[i0] else "0")
    return "".join(bits)


@pytest.mark.slow
def test_dhash_matches_reference_impl(spark):
    docs = spark.createDataFrame(
        [(0, "the quick brown fox " * 10, "s"), (3, "zebra stripes " * 20, "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    frames = mm.synth_keyframes(mm.as_media_table(docs), n_frames=1)
    out = {r["frame_id"]: r["dhash"] for r in mm.dhash_fingerprints(frames).collect()}
    # frame 0 perturbs byte 0 -> recompute expected payload per synth rule
    for doc_id, text in [(0, "the quick brown fox " * 10), (3, "zebra stripes " * 20)]:
        b = text.encode()
        nb = bytes([32 + b[0] % 90]) + b[1:]
        assert out[doc_id * 10] == _dhash_ref(nb)
        assert len(out[doc_id * 10]) == 64 and set(out[doc_id * 10]) <= {"0", "1"}


def test_image_near_dup_finds_within_item_frames(spark):
    rows = [(i * 3, f"scene {i} " + "pixel data block " * 12 + f"tail {i}", "s")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    frames = mm.synth_keyframes(mm.as_media_table(docs))
    fp = mm.dhash_fingerprints(frames)
    pairs = {(r["id_a"], r["id_b"]) for r in mm.image_near_duplicates(fp).collect()}
    # every item's 3 frames are pairwise near-identical -> 3 pairs each
    for i in range(6):
        base = i * 3 * 10
        for a, b in [(base, base + 1), (base, base + 2), (base + 1, base + 2)]:
            assert (a, b) in pairs, f"missing within-item pair {(a, b)}"
    # exact (byte) dedup sees NOTHING here: all frame payloads distinct
    texts = mm.synth_keyframes(mm.as_media_table(docs)).select("content").collect()
    blobs = [bytes(r["content"]) for r in texts]
    assert len(set(blobs)) == len(blobs)


def test_wide_dhash_finds_planted_and_interpolates(spark):
    """The 128-bit / 16-bit-band wide geometry (r9 verdict item 3):
    finds the same within-item planted pairs as the 64-bit path, and
    the fill_empty nearest-neighbor upsample gives SHORT payloads
    (n < 144 cells) data-driven fingerprints instead of n-determined
    all-zero bands."""
    rows = [(i * 3, f"scene {i} " + "pixel data block " * 12 + f"tail {i}", "s")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    frames = mm.synth_keyframes(mm.as_media_table(docs))
    fp = mm.dhash_fingerprints(frames, rows=mm.WIDE_DHASH_ROWS, fill_empty=True)
    got = fp.collect()
    assert all(len(r["dhash"]) == mm.WIDE_DHASH_BITS for r in got)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mm.image_near_duplicates(fp, bits=mm.WIDE_DHASH_BITS).collect()
    }
    for i in range(6):
        base = i * 3 * 10
        for a, b in [(base, base + 1), (base, base + 2), (base + 1, base + 2)]:
            assert (a, b) in pairs, f"missing within-item pair {(a, b)}"
    # interpolation: a 60-byte payload fills all 144 cells — its wide
    # fingerprint must differ from the degenerate no-fill one, whose
    # empty-cell comparisons force structural-zero bit runs
    short = spark.createDataFrame(
        [(0, "short doc with few bytes here yes truly tiny wee one", "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    sframes = mm.synth_keyframes(mm.as_media_table(short), n_frames=1)
    nofill = mm.dhash_fingerprints(sframes, rows=mm.WIDE_DHASH_ROWS).collect()[0]
    filled = mm.dhash_fingerprints(
        sframes, rows=mm.WIDE_DHASH_ROWS, fill_empty=True
    ).collect()[0]
    assert nofill["dhash"] != filled["dhash"]
    assert filled["dhash"].count("1") > nofill["dhash"].count("1")


def test_wide_dhash_capped_keeps_storms_connected(spark):
    """chain+star on the wide path: byte-identical frames (hamming 0,
    one mega bucket in every band) stay connected under a tiny cap."""
    text = "the same viral image payload repeated " * 8
    docs = spark.createDataFrame(
        [(i * 3, text, "s") for i in range(8)],
        "doc_id BIGINT, text STRING, source STRING",
    )
    frames = mm.synth_keyframes(mm.as_media_table(docs), n_frames=1)
    fp = mm.dhash_fingerprints(frames, rows=mm.WIDE_DHASH_ROWS, fill_empty=True)
    pairs = mm.image_near_duplicates(fp, max_bucket=3, bits=mm.WIDE_DHASH_BITS)
    from multi_search_retrival_big_data_spark.operators import dedup

    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    clusters = {r["cluster_id"] for r in comp.collect()}
    nodes = {r["node"] for r in comp.collect()}
    assert nodes == {i * 30 for i in range(8)}
    assert clusters == {0}


def test_image_near_dup_unrelated_items_far(spark):
    """Two items with completely different byte distributions must not
    pair up (their dHash hamming is large)."""
    docs = spark.createDataFrame(
        [(0, "aaaa bbbb " * 30, "s"), (3, "zz yy xx ww vv uu tt ss rr qq " * 9, "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    fp = mm.dhash_fingerprints(mm.synth_keyframes(mm.as_media_table(docs)))
    pairs = {(r["id_a"], r["id_b"]) for r in mm.image_near_duplicates(fp).collect()}
    cross = {(a, b) for a, b in pairs if a // 10 != b // 10}
    assert cross == set()


# ---- audio landmark near-dup ------------------------------------------------


def _audio_media(spark, rows):
    docs = spark.createDataFrame(
        [(i, t, f"s{i}") for i, t in rows],
        "doc_id BIGINT, text STRING, source STRING",
    )
    return mm.as_media_table(docs)


def _py_landmarks(blob: bytes):
    """Reference implementation of audio_landmarks for one clip."""
    w = mm.AUDIO_WIN
    nw = len(blob) // w
    if nw < 3:
        return []
    env = [sum(blob[i * w : (i + 1) * w]) for i in range(nw)]
    peaks = [
        i
        for i in range(1, nw - 1)
        if env[i] > env[i - 1] and env[i] >= env[i + 1]
    ]
    out = []
    for a in range(len(peaks)):
        for b in range(a + 1, min(a + 1 + mm.AUDIO_FAN, len(peaks))):
            dt = peaks[b] - peaks[a]
            if dt > mm.AUDIO_MAX_DT:
                break
            key = (
                (env[peaks[a]] // mm.AUDIO_QUANT) * mm.AUDIO_KEY_BASE
                + env[peaks[b]] // mm.AUDIO_QUANT
            ) * (mm.AUDIO_MAX_DT + 1) + dt
            out.append((peaks[a], key))
    return out


def test_audio_landmarks_match_reference_impl(spark):
    # media_id 1 -> audio; deliberately bumpy so peaks exist
    text = "aAzZbByYcCxXdDwWeEvVfFuUgGtT" * 6
    media = _audio_media(spark, [(1, text)])
    clips = mm.synth_audio_clips(media)
    got = sorted(
        (r["clip_id"], r["t"], r["key"])
        for r in mm.audio_landmarks(clips).collect()
    )
    blob = text.encode()
    want = sorted(
        [(10, t, k) for t, k in _py_landmarks(blob)]
        + [(11, t, k) for t, k in _py_landmarks(blob[mm.AUDIO_CLIP_SHIFT:])]
    )
    assert got == want


def test_audio_clip_shift_found_at_offset_minus_two(spark):
    # long noisy payload -> many peaks; its shifted clip must vote
    # the whole overlap onto offset -2 and clear MIN_VOTES
    import random

    rng = random.Random(7)
    text = "".join(chr(32 + rng.randrange(90)) for _ in range(400))
    media = _audio_media(spark, [(7, text)])  # 7 % 3 == 1 -> audio
    # (7 // 3) % 2 == 0 -> clip 1 exists
    clips = mm.synth_audio_clips(media)
    assert {r["clip_id"] for r in clips.select("clip_id").collect()} == {70, 71}
    out = mm.audio_near_duplicates(mm.audio_landmarks(clips)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"], r["offset"]) == (70, 71, -2)
    assert r["votes"] >= mm.AUDIO_MIN_VOTES


def test_audio_unrelated_clips_not_paired(spark):
    import random

    rng = random.Random(11)
    rows = [
        (1 + 3 * i, "".join(chr(32 + rng.randrange(90)) for _ in range(300)))
        for i in range(6)
    ]
    media = _audio_media(spark, rows)
    lm = mm.audio_landmarks(mm.synth_audio_clips(media))
    pairs = mm.audio_near_duplicates(lm).collect()
    # only the planted shifted clips pair up; unrelated clips never
    # reach MIN_VOTES at one offset
    assert all(r["id_a"] // 10 == r["id_b"] // 10 for r in pairs)


def test_audio_viral_key_df_cap(spark):
    # one landmark key planted in many clips: with the cap lowered
    # below the clip count the key contributes nothing
    lm_rows = [(cid, 3, 777) for cid in range(20)] + [
        (cid, 9, 1000 + cid) for cid in range(20)
    ]
    lm = spark.createDataFrame(lm_rows, "clip_id BIGINT, t BIGINT, key BIGINT")
    hits = mm.audio_near_duplicates(lm, max_key_df=10, min_votes=1).collect()
    assert hits == []
    # with the cap above the df the viral key pairs everything
    hits = mm.audio_near_duplicates(lm, max_key_df=64, min_votes=1).collect()
    assert len(hits) == 20 * 19 // 2


# ---- video frame-sequence near-dup ------------------------------------------


def _py_video_frames(mid: int, blob: bytes):
    """Reference implementation of synth_video_sequences for one video."""
    n = len(blob)
    rot = n // mm.VIDEO_ROT_DIV + 1
    out = {}
    for t in range(mm.VIDEO_FRAME_COUNT):
        k = (t * rot) % n
        out[mid * 100 + t] = blob[k:] + blob[:k]
    for tp in range(mm.VIDEO_FRAME_COUNT - mm.VIDEO_SHIFT):
        k = ((tp + mm.VIDEO_SHIFT) * rot) % n
        fb = blob[k:] + blob[:k]
        q = (tp * mm.KEYFRAME_STRIDE) % n
        fb = fb[:q] + bytes([32 + (fb[q] + mm.VIDEO_SALT) % 90]) + fb[q + 1 :]
        out[mid * 100 + 10 + tp] = fb
    return out


def test_video_sequences_match_reference_impl(spark):
    text = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [(2, text, "s2"), (5, text, "s5"), (4, text, "s4")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    frames = mm.synth_video_sequences(mm.as_media_table(docs))
    got = {
        r["frame_id"]: bytes(r["content"]) for r in frames.collect()
    }
    # id 5 is video but odd -> skipped; id 4 is audio -> skipped
    want = _py_video_frames(2, text.encode())
    assert got == want


def test_video_near_dup_trimmed_reencode_found(spark):
    import random

    rng = random.Random(3)
    text = "".join(chr(32 + rng.randrange(90)) for _ in range(360))
    docs = spark.createDataFrame(
        [(8, text, "s")], "doc_id BIGINT, text STRING, source STRING"
    )
    fp = mm.dhash_fingerprints(
        mm.synth_video_sequences(mm.as_media_table(docs))
    )
    out = mm.video_near_duplicates(fp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"], r["offset"]) == (80, 81, -mm.VIDEO_SHIFT)
    assert r["votes"] == mm.VIDEO_FRAME_COUNT - mm.VIDEO_SHIFT


def test_video_unrelated_clips_not_paired(spark):
    import random

    rng = random.Random(5)
    rows = [
        (2 + 6 * i, "".join(chr(32 + rng.randrange(90)) for _ in range(300)), "s")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    fp = mm.dhash_fingerprints(
        mm.synth_video_sequences(mm.as_media_table(docs))
    )
    pairs = mm.video_near_duplicates(fp).collect()
    assert all(r["id_a"] // 10 == r["id_b"] // 10 for r in pairs)
    assert len(pairs) == 5  # exactly the planted re-encodes


def test_video_single_frame_match_below_vote_bar(spark):
    # two clips sharing ONE near-identical frame are NOT video dups
    fp_rows = [
        (100, "0" * 64),  # clip 10, t=0
        (200, "0" * 63 + "1"),  # clip 20, t=0: hamming 1 -> frame match
        (201, "1" * 64),
        (101, "0" * 32 + "1" * 32),
    ]
    fp = spark.createDataFrame(fp_rows, "frame_id BIGINT, dhash STRING")
    assert mm.video_near_duplicates(fp).collect() == []
    assert mm.video_near_duplicates(fp, min_votes=1).count() == 1


# ---- viral-bucket guard (capped Hamming banding) -----------------------------


def test_simhash_max_bucket_chain_star_on_storm(spark):
    from multi_search_retrival_big_data_spark.operators.textanalysis import (
        simhash_near_duplicates,
    )

    # a byte-identical storm: 200 frames with ONE fingerprint
    storm = [(i, "01" * 32) for i in range(200)]
    fp = spark.createDataFrame(storm, "frame_id BIGINT, simhash STRING")
    uncapped = simhash_near_duplicates(fp, "frame_id", max_hamming=6)
    capped = simhash_near_duplicates(fp, "frame_id", max_hamming=6, max_bucket=50)
    assert uncapped.count() == 200 * 199 // 2
    got = capped.collect()
    # chain (m-1) + star (m-1), overlapping on (min, min+1): 2m-3
    assert len(got) == 2 * 200 - 3
    assert all(r["hamming"] == 0 for r in got)
    # the storm stays CONNECTED: union-find over emitted pairs -> 1 component
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in got:
        parent[find(r["id_a"])] = find(r["id_b"])
    assert len({find(i) for i in range(200)}) == 1


def test_simhash_max_bucket_small_buckets_unchanged(spark):
    from multi_search_retrival_big_data_spark.operators.textanalysis import (
        simhash_near_duplicates,
    )

    rows = [(1, "0" * 64), (2, "0" * 63 + "1"), (3, "1" * 64)]
    fp = spark.createDataFrame(rows, "frame_id BIGINT, simhash STRING")
    base = {(r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_duplicates(fp, "frame_id").collect()}
    capped = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_near_duplicates(fp, "frame_id", max_bucket=10).collect()}
    assert base == capped == {(1, 2, 1)}


def test_dhash_bucket_cap_sound_at_gate_scale(spark):
    """multimodal_image_near_dup (uncapped oracle) and the capped row's
    'production' arm agree only while no gate-scale (chunk_idx, chunk)
    bucket exceeds DHASH_MAX_BUCKET. Make that precondition fail LOUDLY
    (the SemDeDup cap-soundness pattern) instead of as a confusing
    oracle mismatch after a corpus change."""
    from multi_search_retrival_big_data_spark import tables

    docs = tables.load(spark, "documents", "/root/testdata/sf0.01")
    fp = mm.dhash_fingerprints(mm.synth_keyframes(mm.as_media_table(docs)))
    chunked = fp.select(
        "frame_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_idx"),
                    F.substring("dhash", c * 8 + 1, 8).alias("chunk"),
                )
                for c in range(8)
            ])
        ).alias("e"),
    ).select("frame_id", "e.chunk_idx", "e.chunk")
    max_bucket = (
        chunked.groupBy("chunk_idx", "chunk").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket < mm.DHASH_MAX_BUCKET, (
        f"gate-scale max dHash band bucket {max_bucket} >= production cap "
        f"{mm.DHASH_MAX_BUCKET}: multimodal_image_near_dup's uncapped oracle "
        "no longer mirrors the capped production arm — raise the cap or "
        "move the row to the capped-mirror oracle"
    )


def test_image_dedup_keep_one_frame_per_cluster(spark):
    import random

    from multi_search_retrival_big_data_spark.operators import dedup

    rng = random.Random(13)
    rows = [
        (i, "".join(chr(32 + rng.randrange(90)) for _ in range(300)), "s")
        for i in (0, 3)  # both % 3 == 0 -> image items
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    fp = mm.dhash_fingerprints(mm.synth_keyframes(mm.as_media_table(docs)))
    pairs = mm.image_near_duplicates(fp)
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    got = {
        r["frame_id"]: (r["cluster_id"],)
        for r in comp.select(F.col("node").alias("frame_id"), "cluster_id").collect()
    }
    # each doc's 3 near-identical frames form ONE cluster labeled by
    # its min frame id; the two docs never merge
    assert got == {
        0: (0,), 1: (0,), 2: (0,),
        30: (30,), 31: (30,), 32: (30,),
    }


def test_image_dedup_keep_wide_path_one_frame_per_cluster(spark):
    """The r10 promotion path: the keep table now consumes
    image_near_duplicates(bits=WIDE_DHASH_BITS) over 128-bit
    interpolated fingerprints —
    same cluster semantics as the 64-bit twin (one keeper per
    within-doc frame cluster, distinct docs never merge)."""
    import random

    from multi_search_retrival_big_data_spark.operators import dedup

    rng = random.Random(13)
    rows = [
        (i, "".join(chr(32 + rng.randrange(90)) for _ in range(300)), "s")
        for i in (0, 3)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
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
    got = {
        r["frame_id"]: r["cluster_id"]
        for r in comp.select(F.col("node").alias("frame_id"), "cluster_id").collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 30: 30, 31: 30, 32: 30}


def test_audio_dedup_keep_drops_shifted_clip(spark):
    import random

    from multi_search_retrival_big_data_spark.operators import dedup

    rng = random.Random(17)
    text = "".join(chr(32 + rng.randrange(90)) for _ in range(400))
    docs = spark.createDataFrame(
        [(7, text, "s")], "doc_id BIGINT, text STRING, source STRING"
    )
    clips = mm.synth_audio_clips(mm.as_media_table(docs))
    pairs = mm.audio_near_duplicates(mm.audio_landmarks(clips))
    comp = dedup.connected_components_auto(pairs.select("id_a", "id_b"))
    got = {r["node"]: r["cluster_id"] for r in comp.collect()}
    # the original (70) and its shifted clip (71) form one cluster
    # labeled by the minimum -> keep 70, drop 71
    assert got == {70: 70, 71: 70}


def test_video_dedup_keep_drops_reencoded_copy(spark):
    import random

    from multi_search_retrival_big_data_spark.queries.multimodal_queries import (
        multimodal_video_dedup_keep,
    )

    rng = random.Random(23)
    text = "".join(chr(32 + rng.randrange(90)) for _ in range(400))
    docs = spark.createDataFrame(
        [(8, text, "s"), (14, text[::-1], "s")],
        "doc_id BIGINT, text STRING, source STRING",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(f"{d}/documents.parquet")
        out = {r["clip_id"]: (r["cluster_id"], r["keep"])
               for r in multimodal_video_dedup_keep(spark, d).collect()}
    # each video's clip 0 (original) and clip 1 (re-encoded trimmed
    # copy) form one cluster labeled by the minimum: keep clip 0
    assert out == {
        80: (80, True), 81: (80, False),
        140: (140, True), 141: (140, False),
    }


def test_audio_family_grid_prices_the_cap(spark, sf_dir):
    from multi_search_retrival_big_data_spark.queries.multimodal_queries import (
        multimodal_audio_family_grid,
    )

    rows = {r["arm"]: r for r in multimodal_audio_family_grid(spark, sf_dir).collect()}
    assert set(rows) == {"default", "df_tight", "fan_wide", "lo_entropy"}
    for r in rows.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["kept_landmarks"] <= r["n_landmarks"]
        assert r["found"] <= r["planted"]
    # tightening the df-cap can only drop landmarks/candidates/recall
    assert rows["df_tight"]["kept_landmarks"] <= rows["default"]["kept_landmarks"]
    assert rows["df_tight"]["candidates"] <= rows["default"]["candidates"]
    assert rows["df_tight"]["recall"] <= rows["default"]["recall"]
    # wider fan mines strictly more landmarks
    assert rows["fan_wide"]["n_landmarks"] >= rows["default"]["n_landmarks"]
    # the promoted Q=1 default keeps the high-entropy key space: the
    # absolute cap drops nothing at gate scale, and coarsening the keys
    # back to the former Q=4 (lo_entropy) can only inflate the key join
    # and lose recall — the direction the r10 promotion is based on
    assert rows["default"]["kept_landmarks"] == rows["default"]["n_landmarks"]
    assert rows["lo_entropy"]["candidates"] >= rows["default"]["candidates"]
    assert rows["lo_entropy"]["recall"] <= rows["default"]["recall"]


def test_audio_matcher_parity_two_pass_cap_at_adversarial_skew(spark):
    """The r11 single-evaluation matcher (groupBy(key) member arrays +
    in-array pair generation) must emit EXACTLY the pairs of the
    documented two-pass fallback spelling (groupBy countDistinct cap +
    key self-join) at the adversarial-skew shape: one viral key held by
    more clips than max_key_df (dropped whole), one borderline-hot key
    AT the cap, and clips that repeat the same key at several anchor
    times (so the member array is larger than the distinct-clip count —
    the r10-advice shape with no automated guard until now)."""
    rows = []
    # viral key 777: 12 clips, 3 anchor times each -> df 12 > cap 8
    for cid in range(12):
        rows += [(cid, t, 777) for t in (1, 4, 9)]
    # borderline key 500: exactly 8 clips, repeated twice per clip
    for cid in range(8):
        rows += [(cid, 2 + cid, 500), (cid, 5 + cid, 500)]
    # sparse keys: shifted copies voting one offset
    for cid in (20, 21):
        rows += [(cid, 3 + (cid - 20), 9000 + j) for j in range(14)]
    lm = spark.createDataFrame(rows, "clip_id BIGINT, t BIGINT, key BIGINT")

    def two_pass(lm, max_key_df, min_votes):
        kept = (
            lm.groupBy("key")
            .agg(F.countDistinct("clip_id").alias("__df"))
            .filter(F.col("__df") <= max_key_df)
            .select("key")
        )
        lk = lm.join(kept, "key")
        a = lk.select("key", F.col("clip_id").alias("id_a"), F.col("t").alias("ta"))
        b = lk.select("key", F.col("clip_id").alias("id_b"), F.col("t").alias("tb"))
        votes = (
            a.join(b, "key")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", (F.col("tb") - F.col("ta")).alias("offset"))
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        best = (
            votes.groupBy("id_a", "id_b")
            .agg(
                F.min(
                    F.struct((-F.col("votes")).alias("nv"), F.col("offset").alias("o"))
                ).alias("__b")
            )
            .select(
                "id_a", "id_b", F.col("__b.o").alias("offset"),
                (-F.col("__b.nv")).alias("votes"),
            )
        )
        return best.filter(F.col("votes") >= min_votes)

    for min_votes in (1, 2):
        got = sorted(map(tuple, mm.audio_near_duplicates(
            lm, max_key_df=8, min_votes=min_votes).collect()))
        want = sorted(map(tuple, two_pass(lm, 8, min_votes).collect()))
        assert got == want and got  # non-empty: the test exercises real pairs
