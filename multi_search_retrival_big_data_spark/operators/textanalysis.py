"""Text-analysis operators for training-data pipelines: SimHash
fingerprints, winnowing (rolling-hash) document fingerprints,
stopword-list language identification, quality scoring, token counting.

The reference's text path is TF-IDF retrieval (SURVEY.md §2 Q4-Q7);
a corpus-preparation pipeline additionally needs per-document analysis
operators. Everything here is pure Catalyst expressions (no Python in
the hot path) and every hash is md5-hex so the DuckDB oracle can
reproduce values bit-for-bit (see operators/dedup.py for why hex-string
MIN == numeric MIN).

Scale notes:
- SimHash: one groupBy(doc, token) for tf + one groupBy(doc) with 64
  parallel SUM aggregates — two shuffles total, both with map-side
  partial aggregation; no explode over bit positions.
- SimHash near-dup pairs: 8-chunk pigeonhole banding — any two
  fingerprints within Hamming distance 7 agree exactly on at least one
  8-bit chunk, so candidates come from the bucket-pair miner
  (dedup.lsh_candidate_pairs) on the (band, bval) chunks dedup.band_cut
  cuts, never an all-pairs scan.
- Winnowing: window-function MIN over a w-row frame inside each doc
  partition; one shuffle on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.rounding import det_round
from multi_search_retrival_big_data_spark.functions.text import tokenize
from multi_search_retrival_big_data_spark.operators import dedup
from multi_search_retrival_big_data_spark.partitioning import ensure_min_partitions

HEX_CHARS = "0123456789abcdef"
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 8  # pigeonhole: guarantees recall for hamming <= 7
WINNOW_K = 5  # char-gram size
WINNOW_W = 4  # window length (rows of consecutive grams)


def _hex_digit_val(h: Column, d: int) -> Column:
    """Numeric value of hex digit d (0-based) of a lowercase hex string."""
    return F.instr(F.lit(HEX_CHARS), F.substring(h, d + 1, 1)) - F.lit(1)


def simhash_fingerprints(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document as a 64-char '0'/'1' string
    (bit p = sign of Σ_tokens tf · (±1 from bit p of md5(token))).

    Bit p lives in hex digit p//4 of the token's md5, sub-bit p%4
    (LSB-first within the digit). Ties (sum == 0) encode as '1' in both
    engines."""
    # no partition widening: the token explode is narrow and the
    # 64-aggregate stage runs post-shuffle (already parallel)
    toks = docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    h = F.md5(F.col("tok"))
    vals = tf.select(
        F.col(id_col),
        F.col("tf"),
        *[_hex_digit_val(h, d).alias(f"v{d}") for d in range(16)],
    )
    sums = vals.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("tf")
                * (F.shiftright(F.col(f"v{p // 4}"), p % 4).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{p}")
            for p in range(SIMHASH_BITS)
        ]
    )
    bits = [
        F.when(F.col(f"s{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(SIMHASH_BITS)
    ]
    return sums.select(F.col(id_col), F.concat(*bits).alias("simhash"))


def hamming_distance(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two equal-length '0'/'1' bit strings,
    as packed integer arithmetic: each 16-bit slice is parsed with
    conv(…, 2, 10), XORed, and bit_count-ed — all whole-stage-codegen
    scalar ops. Value-identical to the positional definition the
    oracle keeps in its list_filter form, but ~20× cheaper per pair:
    the previous higher-order `filter(sequence(1, bits), p ->
    substr(a,p,1) != substr(b,p,1))` evaluated 2·bits interpreted
    variable-position substrings per row and dominated the near-dup
    verify stage (measured 35 s of a 40 s image-near-dup run at sf0.1
    over 1.15M candidate pairs). simhash_near_duplicates packs the
    fingerprint into bigint words BEFORE banding (narrower shuffle, one
    conv per fingerprint instead of per pair), so this string-input
    helper serves ad-hoc comparisons, not the serving path."""
    terms = []
    lo = 1
    while lo <= bits:
        w = min(16, bits - lo + 1)
        ha = F.conv(F.substring(a, lo, w), 2, 10).cast("bigint")
        hb = F.conv(F.substring(b, lo, w), 2, 10).cast("bigint")
        terms.append(F.bit_count(ha.bitwiseXOR(hb)))
        lo += w
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("int")


def simhash_near_duplicates(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int = SIMHASH_CHUNKS - 1,
    max_bucket: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: candidates share at least one
    exact (bits/SIMHASH_CHUNKS)-bit chunk (pigeonhole guarantees 100%
    recall for distance ≤ SIMHASH_CHUNKS-1), then verified hamming ≤
    max_hamming. Returns (id_a, id_b, hamming). `bits` is the
    fingerprint width (a multiple of 32 and of SIMHASH_CHUNKS): the
    64-bit SimHash / dHash default, or the 128-bit wide dHash geometry
    with 16-bit chunks.

    Candidates come from the one bucket-pair miner,
    dedup.lsh_candidate_pairs, on the (band, bval) rows dedup.band_cut
    cuts from the fingerprint (SIMHASH_CHUNKS bands), with the
    fingerprint packed into bits/32 bigint words as the payload: the
    miner groups each bucket into one member array (one exchange, one
    evaluation of the fingerprint lineage — for the image/video
    consumers that lineage is a decode+dHash mapInPandas pass), and the
    verify is bits/32 xor/bit_count ops on the carried words, with no
    fingerprint re-join and no per-pair string parsing.

    `max_bucket=None` emits all pairs per bucket — O(m²) in the bucket
    size. A byte-identical duplicate storm (one viral page / frame
    replicated 10⁶ times) puts every copy in the SAME buckets and the
    stage dies at m², exactly the MinHash mega-bucket pathology. With
    `max_bucket=B`, over-cap buckets emit only the id-sorted
    consecutive CHAIN plus a STAR to the bucket minimum: O(m) pairs
    per bucket under any skew. Since members of a byte-identical storm
    have hamming 0 pairwise, chain+star keeps the whole storm
    connected through the hamming verify for downstream clustering;
    the pairs dropped are only the non-adjacent combinations inside
    over-cap buckets (the same recall trade the SemDeDup viral-cell
    guard prices)."""
    if bits % 32 != 0 or bits % SIMHASH_CHUNKS != 0:
        raise ValueError(f"bits={bits} must be divisible by 32 and {SIMHASH_CHUNKS}")
    width = bits // SIMHASH_CHUNKS
    words = [f"p{w}" for w in range(bits // 32)]
    packed = fingerprints.select(
        F.col(id_col),
        "simhash",
        *[
            F.conv(F.substring("simhash", w * 32 + 1, 32), 2, 10).cast("bigint").alias(p)
            for w, p in enumerate(words)
        ],
    )
    banded = dedup.band_cut(
        packed, "simhash", SIMHASH_CHUNKS, width, carry=(id_col, *words)
    )
    cand = dedup.lsh_candidate_pairs(
        banded, id_col, max_bucket, keys=("band", "bval"), payload=tuple(words)
    )
    hamming = sum(
        F.bit_count(F.col(f"{p}_a").bitwiseXOR(F.col(f"{p}_b"))) for p in words
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every char k-gram, slide a w-gram window, keep each window's
    minimum hash, dedupe → the document's fingerprint set
    (id, fingerprint). Only full windows are kept (pos + w - 1 ≤ last
    gram position), so every engine sees identical frames."""
    s = F.lower(F.col(text_col))
    grams = (
        ensure_min_partitions(docs).filter(F.length(text_col) >= k + w - 1)
        .select(
            F.col(id_col),
            F.length(s).alias("__len"),
            F.explode(F.sequence(F.lit(1), F.length(s) - F.lit(k - 1))).alias("pos"),
            s.alias("__s"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            F.col("__len"),
            F.md5(F.col("__s").substr(F.col("pos"), F.lit(k))).alias("gh"),
        )
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("wmin", F.min("gh").over(win))
        .filter(F.col("pos") <= F.col("__len") - F.lit(k - 1) - F.lit(w - 1))
        .select(F.col(id_col), F.col("wmin").alias("fingerprint"))
        .distinct()
    )


# Small multilingual stopword lists (public common function words) —
# shared verbatim with the oracle SQL via queries/text_queries.py.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "que", "pour"),
    "zh": ("de", "le", "shi", "zai", "you", "wo", "ta", "men", "zhe", "bu"),
}


def language_id(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language identification: tokenize, count hits per
    candidate language, pick argmax with deterministic (hits DESC,
    lang ASC) tie-break; zero-hit docs get 'und'.
    Returns (id, predicted_lang, hits, n_tokens, hit_ratio).

    The stopword table is a literal inline dimension — broadcast join,
    no shuffle of the token stream beyond the groupBy."""
    spark = docs.sparkSession
    sw = tables.local_frame(
        spark,
        [(lang, word) for lang, words in STOPWORDS.items() for word in words],
        "lang STRING, word STRING",
    )
    toks = ensure_min_partitions(docs).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("word")
    )
    ntok = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    hits = (
        toks.join(F.broadcast(sw), "word")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("hits"), F.asc("lang"))
    best = hits.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return (
        docs.select(F.col(id_col))
        .join(best.select(id_col, "lang", "hits"), id_col, "left")
        .join(ntok, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lang"), F.lit("und")).alias("predicted_lang"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.when(
                F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("hit_ratio"),
        )
    )


def quality_features(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document quality features and a composite score, all as
    rational IEEE arithmetic (no transcendentals — libm log/exp can
    differ by an ulp across engines, breaking oracle parity):
    n_chars, n_tokens, word_char_ratio, punct_ratio, digit_ratio,
    stopword_ratio (en), quality ∈ [0,1]. `keep_cols` passes metadata
    columns (e.g. lang) through the projection so downstream grouped
    consumers don't pay a corpus self-join to get them back."""
    t = F.col(text_col)
    toks = tokenize(t)
    en = F.array(*[F.lit(x) for x in STOPWORDS["en"]])
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    word_chars = F.length(F.regexp_replace(t, r"[^\w]", ""))
    punct_chars = F.length(F.regexp_replace(t, r"[\w\s]", ""))
    digit_chars = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(en, x)))
    nz = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(1.0))
    nt = F.when(n_tokens > 0, n_tokens.cast("double")).otherwise(F.lit(1.0))
    stop_ratio = stop_hits / nt
    punct_ratio = punct_chars / nz
    digit_ratio = digit_chars / nz
    quality = (
        stop_ratio
        + (F.lit(1.0) - punct_ratio)
        + F.least(n_tokens, F.lit(100)).cast("double") / F.lit(100.0)
    ) / F.lit(3.0)
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_chars.cast("bigint").alias("n_chars"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (word_chars / nz).alias("word_char_ratio"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def token_counts(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token-count estimators: whitespace-split tokens, word tokens
    (`\\w+`), and BPE-ish pre-tokens (letter runs / digit runs /
    single punctuation — the GPT-style pre-tokenizer shape)."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(F.split(F.trim(t), r"\s+")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower(t), F.lit(r"\w+"), 0))
        .cast("bigint")
        .alias("word_tokens"),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.length(t).cast("bigint").alias("n_chars"),
    )


def token_distribution(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus token-frequency distribution → (token, cnt, p) with
    p = cnt / total. One explode + a map-side-combined token count +
    a 1-row total broadcast back; p is an int/int double division —
    bit-exact in any engine, so distribution diffs (drift monitors)
    are oracle-checkable. At 100 TB compare TOP-K distributions or
    hash-sampled corpora — the token table itself is vocabulary-sized
    and never a bottleneck; the explode pass is the scan."""
    toks = docs.select(F.explode(tokenize(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", "cnt", (F.col("cnt").cast("double") / F.col("total").cast("double")).alias("p")
    )


def char_bigram_lm_scores(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Language-model quality score without a model: a char-bigram LM
    estimated from the corpus itself, add-one smoothed —
    avg log P(y|x) = mean over doc bigrams of
    ln((c(xy)+1) / (c(x·)+V)). Low scores flag out-of-distribution /
    garbled documents (the classic perplexity filter of training-data
    pipelines, with the corpus as its own reference distribution).

    Shape: ONE map-side-combined shuffle collapses the character-
    position stream to (doc, bigram, n) pairs; the corpus LM tables
    (bigram counts, context counts — vocabulary-sized) derive from
    those pairs and broadcast back, so the per-doc side is shuffled
    once more (the final per-doc aggregate) and never as the raw
    occurrence stream. Returns (id, n_bigrams, avg_logprob)."""
    s = F.lower(F.col(text_col))
    grams = (
        ensure_min_partitions(docs)
        .filter(F.length(text_col) >= 2)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length(s) - 1)).alias("pos"),
            s.alias("__s"),
        )
        .select(F.col(id_col), F.col("__s").substr(F.col("pos"), F.lit(2)).alias("g"))
    )
    # collapse the occurrence stream to (doc, bigram, n) FIRST: the raw
    # stream is one row per character position of the corpus, and
    # joining/shuffling it three times is what goes super-linear under
    # memory pressure at scale. The map-side-combined groupBy cuts
    # shuffle volume to distinct (doc, bigram) pairs, and everything
    # downstream (corpus counts, scoring joins) derives from it.
    doc_grams = grams.groupBy(id_col, "g").agg(F.count(F.lit(1)).alias("n")).cache()
    c2 = doc_grams.groupBy("g").agg(F.sum("n").alias("c2"))
    c1 = doc_grams.select(F.substring("g", 1, 1).alias("x"), "n").groupBy("x").agg(
        F.sum("n").alias("c1")
    )
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    lp = F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v")))
    # the LM tables are vocabulary-sized (≤ charset² bigrams) —
    # broadcast them so the per-doc side never shuffles again
    scored = (
        doc_grams.join(F.broadcast(c2), "g")
        .join(F.broadcast(c1), F.substring(F.col("g"), 1, 1) == F.col("x"))
        .crossJoin(F.broadcast(v))
        .select(F.col(id_col), "n", lp.alias("lp"))
    )
    # oracle parity: the reference sum quantizes lp PER OCCURRENCE at
    # scale 9 — n identical occurrences contribute n·floor(lp·1e9+0.5)
    # exactly, so weighting the quantized value keeps bit-parity with
    # the occurrence-stream formulation
    q = F.floor(F.col("lp") * F.lit(1e9) + F.lit(0.5)).cast("decimal(38,0)")
    wsum = (F.sum(F.col("n").cast("decimal(38,0)") * q).cast("double") / F.lit(1e9))
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("n").alias("n_bigrams"),
            det_round(wsum / F.sum("n")).alias("avg_logprob"),
        )
    )


def decontamination_overlap(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile 13-gram protocol,
    scaled to this corpus's ~80-token documents with word n-grams of
    `n`): find corpus documents sharing ≥ `min_hits` distinct word
    n-grams with any eval-set document → (corpus_id, eval_id,
    shared_ngrams). A training pipeline drops or flags the hits before
    training so eval numbers stay honest.

    Plan shape: per-side distinct (id, gram) explode, equi-join on the
    GRAM VALUE (never a cross join — only docs sharing a gram meet),
    map-side-combined pair count. At 100 TB the eval side is tiny and
    broadcast, so the corpus side never shuffles; hash the gram to an
    8-byte key (shingle_int_value) if gram strings dominate the
    exchange. Same candidate-generation shape as
    dedup.ngram_jaccard_pairs (reference has no decontamination —
    training-pipeline extension)."""
    from multi_search_retrival_big_data_spark.functions.text import (
        tokenize,
        word_ngrams,
    )

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n))
            ).alias("gram"),
        )

    pairs = (
        grams(corpus, "corpus_id")
        .join(F.broadcast(grams(evalset, "eval_id")), "gram")
        .groupBy("corpus_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_hits)
    )
    return pairs


def repetition_features(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style intra-document repetition filters (Rae et al. 2021
    §A1.1.2, public protocol): duplicate-line fraction, most-frequent
    word-bigram fraction, duplicated word-trigram fraction — the
    signals that drop boilerplate/spam pages before training. All
    count-based int/int ratios (engine-exact, no rounding needed).

    Plan shape: the line features and the distinct-counts are pure
    array expressions (codegen, no shuffle); the top-bigram
    multiplicity is an explode + ONE map-side-combined
    groupBy(doc, gram) → groupBy(doc) reduce — linear in tokens. (A
    shuffle-free O(g·distinct-g) `transform(array_distinct, filter)`
    fold exists but falls out of codegen into interpreted expression
    trees — measured 30× slower already at 200-token documents, so the
    exploded reduce is the default at every scale.)"""
    from multi_search_retrival_big_data_spark.functions.text import (
        tokenize,
        word_ngrams,
    )

    t = F.col(text_col)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    toks = tokenize(t)
    tri = word_ngrams(toks, 3)
    n_tri = F.size(tri)
    dup_tri_frac = F.when(
        n_tri > 0,
        F.lit(1.0) - F.size(F.array_distinct(tri)).cast("double") / n_tri.cast("double"),
    ).otherwise(F.lit(0.0))
    base = docs.select(
        F.col(id_col),
        n_lines.cast("bigint").alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_tri_frac.alias("dup_trigram_frac"),
        word_ngrams(toks, 2).alias("__bi"),
    )
    bic = (
        base.select(id_col, F.explode("__bi").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.sum("__c").alias("__n_bi"), F.max("__c").alias("__top"))
    )
    out = base.drop("__bi").join(bic, id_col, "left")
    top_bi = F.coalesce(F.col("__top"), F.lit(0))
    top_bi_frac = F.when(
        F.coalesce(F.col("__n_bi"), F.lit(0)) > 0,
        (F.lit(2.0) * top_bi.cast("double")) / (F.col("__n_bi").cast("double") + F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col(id_col),
        "n_lines",
        "dup_line_frac",
        top_bi.cast("bigint").alias("top_bigram_count"),
        top_bi_frac.alias("top_bigram_frac"),
        "dup_trigram_frac",
    )
