"""Deduplication operators for training-data pipelines.

The reference engine dedupes implicitly (dense keyframe ids, `np.unique`
fusion at utils/combine_utils.py:20-24, `sorted(set(...))` at
utils/search_utils.py:161); a 100 TB corpus pipeline needs document-level
dedup as a first-class operator. Four families, all shuffle-conscious:

- **exact**: hash-groupBy on normalized content. One shuffle on a
  16-byte key; partial aggregation map-side. Scales linearly.
- **MinHash + LSH**: char-shingle → P-permutation minhash signature →
  band buckets → equi-join on (band, bucket) for candidates → exact
  Jaccard verify on candidates only. The all-pairs O(n²) comparison
  collapses to O(candidates); every join is an equi-join Catalyst can
  hash-partition, no cross join anywhere.
- **n-gram Jaccard (exact)**: all-pairs ground truth; intersections
  built by an equi-join on the shingle value (NOT a cross join), so
  cost is O(sum of posting-list² per shingle) — only viable as an
  oracle/verification path or on a pre-filtered candidate set.
- **embedding near-dup**: see operators/ann.py (cosine threshold
  pairs with optional LSH pruning).

Hash function: md5 hex strings. A fixed-width lowercase hex string
compares lexicographically exactly as its unsigned numeric value, so
`MIN(md5(...))` is a valid minhash permutation and is bit-identical in
Spark and DuckDB (both emit lowercase UTF-8 hex) — that is what makes
the driver's oracle gate able to verify these operators value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.cosine import cosine_rows, row_norms
from multi_search_retrival_big_data_spark.operators import dense
from multi_search_retrival_big_data_spark.partitioning import ensure_min_partitions

# MinHash defaults shared with the oracle-SQL generators in
# queries/pipeline_queries.py — keep in sync.
SHINGLE_K = 5
NUM_PERM = 16
LSH_BANDS = 4
LSH_ROWS = 4

MINHASH_PRIME = 2147483647  # 2^31 - 1
_HEX = "0123456789abcdef"


def minhash_params(num_perm: int = NUM_PERM) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine permutation family,
    md5-derived so the oracle generator embeds identical literals.
    a_i ∈ [1, 2³⁰) keeps a·v below signed-64 overflow for v < 2³²."""
    import hashlib

    out = []
    for i in range(num_perm):
        a = 1 + int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % ((1 << 30) - 1)
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_PRIME
        out.append((a, b))
    return out


def shingle_int_value(shingle: Column) -> Column:
    """32-bit integer view of a shingle: the first 8 hex digits of its
    md5, decoded positionally (instr-based — identical expression is
    emitted into the oracle SQL, where no hex→int cast exists)."""
    h = F.md5(shingle)
    v = F.lit(0).cast("bigint")
    for j in range(8):
        digit = F.instr(F.lit(_HEX), F.substring(h, j + 1, 1)) - F.lit(1)
        v = v + digit.cast("bigint") * F.lit(16 ** (7 - j))
    return v


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    trim. Pure Catalyst expressions (regex is `\\s+` which means the
    same thing in Java regex and RE2)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(col: Column) -> Column:
    return F.md5(normalize_text(col))


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate grouping: every doc annotated with its content
    hash, the canonical (minimum) doc id sharing that hash, and the
    group size. One hash-partition shuffle on the 16-byte digest; the
    window aggregates run inside each partition."""
    hashed = docs.select(F.col(id_col), content_hash(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash")
    return (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .select(id_col, "content_hash", "canonical_id", "group_size")
    )


def char_shingles(
    docs: DataFrame, id_col: str, text_col: str, k: int = SHINGLE_K
) -> DataFrame:
    """Distinct lowercase char k-grams per document → (id, shingle).
    Docs shorter than k yield no rows (they cannot participate in
    shingle-based similarity). `sequence` is guarded by the length
    filter — Spark generates descending ranges when stop < start."""
    s = F.lower(F.col(text_col))
    return (
        ensure_min_partitions(docs).filter(F.length(text_col) >= k)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length(s) - F.lit(k - 1))).alias("__pos"),
            s.alias("__s"),
        )
        .select(F.col(id_col), F.col("__s").substr(F.col("__pos"), F.lit(k)).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_perm: int = NUM_PERM
) -> DataFrame:
    """P-permutation minhash signature as P columns h0..h{P-1}.

    Classic universal-hash minhash: ONE base hash per shingle (md5 →
    32-bit integer v) and P affine permutations h_i = (a_i·v + b_i)
    mod 2³¹-1 with md5-derived constants — 16× fewer digest
    computations than hashing per permutation, and the integer
    arithmetic is exact in both engines (a_i < 2³⁰ keeps a·v < 2⁶²,
    no signed-64 overflow). Computed as P parallel MIN aggregates in
    ONE groupBy — map-side partial aggregation keeps shuffle volume at
    O(docs × P × 8 bytes) regardless of shingle count, and there is no
    per-permutation explode."""
    # project v ONCE per row — inlining the expression into the P
    # aggregates would re-evaluate the md5 P times
    withv = shingles.select(
        F.col(id_col), shingle_int_value(F.col("shingle")).alias("__v")
    )
    aggs = [
        F.min((F.lit(a) * F.col("__v") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_params(num_perm))
    ]
    return withv.groupBy(id_col).agg(*aggs)


def lsh_buckets(
    signatures: DataFrame,
    id_col: str,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """Band the signature: bucket id = md5 of the band's concatenated
    components → (id, band, bucket). Docs agreeing on all rows of any
    band land in the same (band, bucket) key."""
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*entries)).alias("e")
    ).select(id_col, "e.band", "e.bucket")


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Distinct unordered candidate pairs from shared (band, bucket)
    keys. Equi-join on the bucket key — the shuffle partitions by
    bucket, so skew only appears when one bucket is huge.

    `max_bucket=None` emits ALL pairs per bucket — O(m²) in the bucket
    size, which on a duplicate-heavy crawl (one viral boilerplate
    bucket with 10⁶ members → 10¹² pairs) kills the stage. With
    `max_bucket=B` (production default: a few hundred) buckets of size
    m ≤ B still emit all pairs, but each MEGA bucket emits only a
    deterministic SPANNING pair set — the id-sorted consecutive chain
    (m-1 pairs) plus a star to the bucket minimum (m-1 pairs) — so a
    bucket contributes O(m), not O(m²).

    The cap is NOT cluster-preserving in general. The downstream
    closure runs over the pairs that pass the exact-Jaccard verify, so
    a mega bucket keeps a member in its cluster only if that member
    verifies against its id-sorted neighbour or the bucket minimum (or
    reaches the cluster through a pair from another bucket). It fails
    (a) when a mega bucket mixes a near-duplicate pair with unrelated
    documents that collided on the same band key: the chain and star
    run through members that fail the verify and the pair itself is
    never emitted; and (b) when a member verifies only against a
    non-adjacent, non-minimum member, since Jaccard is not transitive
    at the threshold. Both happen on perfbench/gen.py's curate_batch
    corpora at B=3: seed 8's (170, 297) at J=0.88 shares only a
    4-member bucket with two documents at J≈0.2, and seed 22's 531
    verifies only with 112 in a 5-member bucket; 7 of seeds 1-40 lose
    1-2 documents from the capped closure. Cost shape: the windows
    (count/min/lag over (band, bucket)) are ONE sort-shuffle on the
    bucket key — a 10⁶-member bucket is 10⁶ rows in one task instead
    of 10¹² join outputs."""
    if max_bucket is None:
        a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
        b = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
        return (
            a.join(b, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    w = Window.partitionBy("band", "bucket")
    wo = w.orderBy(id_col)
    ann = buckets.select(
        F.col(id_col).alias("id"),
        "band",
        "bucket",
        F.count(F.lit(1)).over(w).alias("m"),
        F.min(id_col).over(w).alias("mn"),
        F.lag(id_col).over(wo).alias("prev"),
    )
    small = ann.filter(F.col("m") <= max_bucket)
    sa = small.select(F.col("id").alias("id_a"), "band", "bucket")
    sb = small.select(F.col("id").alias("id_b"), "band", "bucket")
    small_pairs = (
        sa.join(sb, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    mega = ann.filter(F.col("m") > max_bucket)
    chain = mega.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("id_a"), F.col("id").alias("id_b")
    )
    star = mega.filter(F.col("id") > F.col("mn")).select(
        F.col("mn").alias("id_a"), F.col("id").alias("id_b")
    )
    return small_pairs.unionByName(chain).unionByName(star).distinct()


def lsh_delta_candidate_pairs(
    buckets: DataFrame, delta_ids: DataFrame, id_col: str
) -> DataFrame:
    """Candidate pairs TOUCHING a delta batch: the delta's bucket rows
    equi-joined against the full bucket table → distinct unordered
    (id_a < id_b) pairs with at least one delta member.

    This is how a continuously-crawling pipeline dedups an incoming
    batch against a 100 TB corpus WITHOUT re-running the corpus
    self-join: the persisted bucket table (index_store layout) is
    probed only at the delta's (band, bucket) keys, so the join cost
    is O(|delta| × bucket collision rate), and the result is provably
    the subset of the full candidate set that involves a delta doc
    (same buckets ⇒ same collisions — the oracle checks exactly that
    equivalence). Delta-internal pairs arise twice (once per side) and
    collapse in the distinct; the semi-join prune broadcasts the
    delta id set (batch-sized)."""
    delta = buckets.join(
        F.broadcast(delta_ids.select(id_col)), id_col, "left_semi"
    ).select(F.col(id_col).alias("__id_d"), "band", "bucket")
    other = buckets.select(F.col(id_col).alias("__id_o"), "band", "bucket")
    return (
        delta.join(other, ["band", "bucket"])
        .filter(F.col("__id_d") != F.col("__id_o"))
        .select(
            F.least("__id_d", "__id_o").alias("id_a"),
            F.greatest("__id_d", "__id_o").alias("id_b"),
        )
        .distinct()
    )


def lsh_bucket_stats(
    buckets: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Dropped-pair accounting for the capped candidate path → one row
    per band: bucket count, mega-bucket (capped) count, members in
    mega buckets, the full all-pairs count the uncapped path would
    emit, and the bound on pairs the capped path emits (all pairs for
    small buckets + chain&star 2(m-1)-1 for mega buckets, before
    cross-band dedup). The m·(m-1)/2 division is exact IEEE double
    arithmetic for m < 9.4e7 (m² < 2⁵³) — identical in Spark and
    DuckDB. Report this next to any capped dedup run: the cap trades
    an EXPLICIT, measured pair budget for worst-case quadratic blowup."""
    per = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("m"))
    m = F.col("m")
    full_pairs = (m * (m - F.lit(1)) / F.lit(2)).cast("bigint")
    capped_pairs = F.when(m <= max_bucket, full_pairs).otherwise(
        (F.lit(2) * (m - F.lit(1)) - F.lit(1)).cast("bigint")
    )
    return (
        per.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(m > max_bucket, 1).otherwise(0)).alias("n_mega_buckets"),
            F.sum(F.when(m > max_bucket, m).otherwise(0)).alias("mega_members"),
            F.sum(full_pairs).alias("full_pairs"),
            F.sum(capped_pairs).alias("capped_pairs"),
        )
        .orderBy("band")
    )


def jaccard_for_pairs(
    shingles: DataFrame, pairs: DataFrame, id_col: str,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact Jaccard similarity for given candidate pairs →
    (id_a, id_b, intersection, size_a, size_b, jaccard), for the pairs
    with intersection ≥ 1. The candidate set is usually tiny relative
    to the corpus → broadcast it to both shingle joins so no extra
    shuffle of the shingle table happens.

    `min_jaccard` arms the SIZE-RATIO PREFILTER (r11, guide §3.2 —
    reduce the big side before the expensive join): pairs whose
    shingle-set sizes satisfy min(|A|,|B|) < t·max(|A|,|B|) are dropped
    BEFORE the shingle⋈shingle intersection join ever sees them.
    Threshold-boundary identity: |A∩B| ≤ min(|A|,|B|) and
    |A∪B| ≥ max(|A|,|B|), so J(A,B) = |A∩B|/|A∪B| ≤ min/max — a pair
    failing the ratio test has J < t EXACTLY (integer sizes, one IEEE
    multiply+compare; no estimate anywhere), i.e. it could only ever
    be emitted with jaccard < min_jaccard. Callers that filter
    `jaccard >= t` downstream therefore see an IDENTICAL result set;
    callers that consume sub-threshold pairs must leave min_jaccard
    unset. The sizes come from the same per-id counts the output
    carries anyway, so the prefilter costs two broadcast-hash joins on
    the request-sized pair list and SAVES the per-shingle join fan-out
    (|shingles(id_a)| × pairs) for every dropped pair."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # attach sizes to the pair list up front (they are output columns
    # regardless); with min_jaccard set, apply the sound ratio bound
    sized = pairs.join(
        F.broadcast(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("size_a"))),
        "id_a",
    ).join(
        F.broadcast(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("size_b"))),
        "id_b",
    )
    if min_jaccard is not None:
        sized = sized.filter(
            F.least("size_a", "size_b").cast("double")
            >= F.lit(float(min_jaccard)) * F.greatest("size_a", "size_b").cast("double")
        )
    bp = F.broadcast(sized)
    # restrict BOTH shingle sides to (surviving) candidate ids before
    # any shuffle — the (id_b, shingle) join then moves only candidate
    # postings, not the whole corpus shingle table
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle").join(
        F.broadcast(sized.select("id_a").distinct()), "id_a", "left_semi"
    )
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle").join(
        F.broadcast(sized.select("id_b").distinct()), "id_b", "left_semi"
    )
    inter = (
        sa.join(bp, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return inter.select(
        "id_a",
        "id_b",
        "intersection",
        "size_a",
        "size_b",
        (
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")).cast("double")
        ).alias("jaccard"),
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    k: int = SHINGLE_K,
    num_perm: int = NUM_PERM,
    bands: int = LSH_BANDS,
    rows_per_band: int = LSH_ROWS,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-duplicate pipeline: shingle → signature →
    bucket → candidate pairs → exact-Jaccard verify ≥ threshold.
    Returns (id_a, id_b, jaccard). Deterministic end to end (md5
    permutations), so recall misses are reproducible and mirrored by
    the DuckDB oracle. `max_bucket` caps per-bucket candidate
    generation (see lsh_candidate_pairs) — REQUIRED at crawl scale;
    None keeps the exact all-pairs-per-bucket semantics for audits.

    `shingles` / `signatures` supply the PERSISTED build artifacts
    (index_store.doc_shingles / minhash_sigs): the explode+distinct
    and the md5-per-shingle signature pass — the dominant costs — then
    happen once at ingest, and a dedup run is only bucket → candidate
    equi-join → candidate-bound verify. Without them the artifacts are
    derived inline (self-contained mode; `.cache()` stands in for the
    persisted table within the one plan)."""
    sh = shingles
    if sh is None:
        # the shingle set feeds BOTH the signature branch and the exact
        # Jaccard verify branch — materialize it once instead of paying
        # the explode+distinct twice
        sh = char_shingles(docs, id_col, text_col, k).cache()
    sig = signatures if signatures is not None else minhash_signatures(sh, id_col, num_perm)
    # candidates are consumed three times by the verify stage (pair
    # broadcast + two semi-join prunes) — materialize once
    cand = lsh_candidate_pairs(
        lsh_buckets(sig, id_col, bands, rows_per_band), id_col, max_bucket
    ).cache()
    # min_jaccard arms the sound size-ratio prefilter (see
    # jaccard_for_pairs): identical ≥-threshold output, but candidates
    # that integer set-size arithmetic alone proves sub-threshold never
    # reach the shingle intersection join
    verified = jaccard_for_pairs(sh, cand, id_col, min_jaccard=threshold)
    return verified.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def _symmetrize_pairs(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """(a,b) ∪ (b,a) as (src,dst) in ONE evaluation of `pairs`: the
    union-of-two-selects spelling re-runs the (possibly expensive)
    upstream pair pipeline once PER BRANCH — measured on the LSS
    anchor at sf0.1, 4.8 s of its 5.5 s was the MinHash shingle/verify
    pipeline evaluated twice under the first checkpoint. The explode
    is a narrow per-row fan-out: one pass, no second evaluation."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")


DRIVER_CC_MAX_EDGES = 200_000


def connected_components_auto(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-duplicate pair graph → (node, cluster_id) with cluster_id =
    the minimum doc id reachable from the node — the default entry
    point a dedup job should call. The reference dedupes pairwise
    only; a training pipeline needs the transitive closure (A~B, B~C ⇒
    {A,B,C} is ONE cluster with ONE kept representative).

    Size-gated routing, mirroring how the PQ/IVF serving paths treat
    driver-sized model state: the VERIFIED near-dup pair graph is
    orders of magnitude smaller than the corpus (it holds only pairs
    that passed exact-Jaccard ≥ threshold), so when the distinct edge
    count is ≤ `driver_max_edges` the transitive closure runs as a
    driver-side union-find — exact, one collect of the edge list, zero
    iterative Spark jobs, immune to graph diameter. A fixed-point loop
    on a graph this small pays ~10 sequential micro-jobs of pure
    scheduling overhead for work one core finishes in milliseconds.

    Above the gate (billions of edges at crawl scale) the distributed
    large-star/small-star algorithm runs (connected_components_lss,
    O(log² n) rounds on ANY graph shape — per-round min-label
    propagation needs ~diameter rounds and stalls on chains).
    `driver_max_edges=0` forces the distributed path (used by tests).

    Self-pairs (a, a) are legal input: node a is emitted as a
    singleton cluster (cluster_id = a) by BOTH routes — the node set
    is seeded from the UNFILTERED pair list, so route choice can never
    change which nodes appear in the output.

    The deduped edge list is persisted before the gate probe: the
    probe's limit(B+1)-collect is the FIRST evaluation of the
    expensive upstream pair pipeline (shingle/verify joins), and when
    the graph exceeds the gate the distributed path re-reads the SAME
    persisted edges instead of re-deriving the pipeline from `pairs` —
    the crawl-scale case pays the dominant cost once, not twice. (The
    probe's early-exit means only the partitions it touched are
    cached; the distributed path recomputes just the rest.)"""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).distinct()
    use_gate = driver_max_edges > 0
    if use_gate:
        from pyspark import StorageLevel

        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if use_gate:
            # ONE evaluation decides the gate AND fetches the edges: a
            # limit(B+1)-collect instead of count-then-collect
            head = edges.limit(driver_max_edges + 1).collect()
            if len(head) <= driver_max_edges:
                parent: dict = {}

                def find(x):
                    root = x
                    while parent[root] != root:
                        root = parent[root]
                    while parent[x] != root:
                        parent[x], x = root, parent[x]
                    return root

                for r in head:
                    a, b = r["src"], r["dst"]
                    # seed BOTH endpoints before the self-loop skip so a
                    # node appearing only as (a, a) stays in the output
                    parent.setdefault(a, a)
                    parent.setdefault(b, b)
                    if a == b:
                        continue
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        # union by MIN root so the final label is the
                        # minimum reachable id, matching
                        # connected_components_lss
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
                rows = [(n, find(n)) for n in parent]
                node_type = dict(pairs.dtypes)[id_a]
                return tables.local_frame(
                    pairs.sparkSession,
                    rows, f"node {node_type}, cluster_id {node_type}"
                )
        # the distributed path reuses the persisted/deduped edges (LSS
        # symmetrizes internally, so one direction suffices)
        return connected_components_lss(edges, "src", "dst", max_iter=max_iter)
    finally:
        if use_gate:
            # LSS localCheckpoints eagerly inside, so the returned
            # DataFrame no longer depends on this cache
            edges.unpersist()


def connected_components_lss(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the package's one distributed connected-components
    algorithm (connected_components_auto's route above its driver
    gate): star operations SQUARE the label-jump per round, so
    convergence is O(log² n) rounds on ANY graph shape, including an
    n-node chain (per-round min-label propagation needs ~n rounds
    there).

    large-star(u): connect every strictly-greater neighbor of u to
    m(u) = min(Γ(u) ∪ {u}); small-star(u): connect every
    less-or-equal neighbor (and u) to m(u). Each operation is ONE
    groupBy(src) shuffle producing the per-node neighborhood min, one
    join to emit the re-wired edges, then a distinct. At the fixed
    point every component is a star rooted at its minimum id, so the
    labels fall out as min(Γ(u) ∪ {u}).

    Scale notes: per round the edge set only shrinks-or-rewires (never
    grows beyond 2|E|); both stars are equi-joins + map-side-combined
    mins — no cross joins, no windows; `localCheckpoint` truncates
    lineage per round (without it the plan doubles per iteration and
    Catalyst analysis cost explodes long before data cost does). The
    fixed point is
    detected by an exact edge-set difference, gated behind a cheap
    count compare: counts read off the checkpointed rounds are nearly
    free, and only when they match does the one-directional exceptAll
    run (equal-size distinct sets are equal iff one difference is
    empty) — the expensive check fires once, at the actual fixed
    point, not every round.

    Node-set semantics match the driver union-find
    (connected_components_auto): the output node set is captured from the
    UNFILTERED symmetric pair list before self-loops are dropped, so a
    node appearing only as (a, a) is emitted as a singleton cluster
    instead of silently vanishing from the star fixed point.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # NOT distinct-ed before the checkpoint: duplicate orientations are
    # harmless to every min-aggregate/join in the loop and the
    # round-end distinct restores the exact set — skipping the
    # up-front shuffle keeps the first (most expensive) action at the
    # upstream pipeline's own cost
    sym = _symmetrize_pairs(pairs, id_a, id_b).localCheckpoint()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    edges = sym.filter(F.col("src") != F.col("dst"))

    def nbr_min(e: DataFrame) -> DataFrame:
        return e.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )

    def symmetric(e: DataFrame, dedup: bool = True) -> DataFrame:
        # explode-based: both orientations from ONE evaluation of e
        # (a union of two selects duplicates e's whole plan subtree —
        # at 2 stars/round the duplication compounds and the per-round
        # action cost is plan/stage overhead, not data). dedup=False
        # skips the mid-round distinct: duplicate edges are harmless
        # to the min-aggregates and joins between stars, and the
        # round-end distinct restores the exact edge SET before the
        # checkpoint/fixed-point compare.
        out = _symmetrize_pairs(e, "src", "dst").filter(
            F.col("src") != F.col("dst")
        )
        return out.distinct() if dedup else out

    converged = False
    # sym is not deduped, so there is no valid count-gate before round 0
    # — which means convergence is detectable only from round 1 onward:
    # an input already AT the star fixed point needs max_iter >= 2 to be
    # recognized as converged (round 0 establishes the count, round 1
    # matches it). With max_iter=1 such an input raises the
    # non-convergence error below instead of returning — deliberate
    # fail-loud behavior, noted here because it differs from a
    # hypothetical eager `prev_count = distinct-count(sym)` gate that
    # would pay an extra up-front shuffle on EVERY call to save one
    # round only for already-converged single-round inputs (r9 advice).
    prev_count = -1
    for _ in range(max_iter):
        # large-star: (v, m(u)) for v ∈ Γ(u), v > u
        lm = nbr_min(edges)
        large = (
            edges.join(lm, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # keep each node's link to its min so components cannot split
        keep = lm.select(F.col("src"), F.col("m").alias("dst"))
        # NOT checkpointed (r8 verdict item 6 — 5.4 s at sf0.1, the
        # grid's slowest anchor, was dominated by per-round JOB COUNT,
        # not data): e1 is consumed twice below (nbr_min + join), so
        # skipping its materialization recomputes ONE round of
        # star-rewiring lineage off the last checkpoint — a few narrow
        # shuffles over an edge set that only ever shrinks — and
        # halves the eager actions per round. Lineage still cannot
        # grow across rounds: new_edges checkpoints at round end.
        e1 = symmetric(large.union(keep), dedup=False)
        # small-star: (v, m(u)) for v ∈ Γ(u) ∪ {u}, v ≤ u
        sm = nbr_min(e1)
        small = (
            e1.join(sm, "src")
            .filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        keep2 = sm.select(F.col("src"), F.col("m").alias("dst"))
        new_edges = symmetric(small.union(keep2)).localCheckpoint()
        new_count = new_edges.count()
        # distinct edge sets of EQUAL size are identical iff the
        # one-directional difference is empty — so the expensive
        # exceptAll only runs on count-stable rounds
        if new_count == prev_count and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            converged = True
            break
        edges = new_edges
        prev_count = new_count
    if not converged:
        raise RuntimeError(
            f"connected_components_lss did not converge in {max_iter} rounds; "
            "raise max_iter (O(log^2 n) rounds suffice for any graph)"
        )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("cluster_id"))
        .select(F.col("src").alias("node"), "cluster_id")
    )
    # nodes isolated at the fixed point (self-loop-only input) label
    # themselves — a narrow left join against the checkpointed node set
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("cluster_id", F.col("node")).alias("cluster_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, threshold: float, k: int = SHINGLE_K
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ threshold (the ground truth the
    LSH path approximates). Pairs are generated by equi-joining on the
    shingle VALUE — never a cross join — so only documents sharing at
    least one shingle ever meet. Still quadratic in the worst case; at
    scale use minhash_near_duplicates and keep this for audits."""
    sh = char_shingles(docs, id_col, text_col, k)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    return (
        inter.join(F.broadcast(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("size_a"))), "id_a")
        .join(F.broadcast(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("size_b"))), "id_b")
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---- SemDeDup: embedding-space semantic dedup (Abbas et al. 2023) ---------


def _cell_cosine_pairs_arrow(
    cells: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    cid_col: str,
    round_to: int,
) -> DataFrame:
    """Within-cell cosine-duplicate pairs (id_a < id_b, det-rounded
    cosine ≥ threshold) as ONE grouped Arrow kernel per cell — the
    r11 replacement for the cell self-join + per-pair Catalyst cosine
    (guide §4.2 "hand whole batches to vectorized native libraries").

    Why: the join spelling shuffled the vector table TWICE (both join
    sides carry the embedding + norm, ~0.5 KB/row/side) and evaluated a
    64-term fold per candidate pair in codegen — candidate-bound cost
    that grows linearly with the corpus (the x10 tier's 10× pair
    budget made dedup_semantic_keep the worst scale ratio in the
    bench). Here each cell's members arrive once as an Arrow batch and
    the m² candidate cosines are ONE BLAS GEMM — no pair ever exists
    as a row unless it survives.

    BIT-IDENTITY argument (the kmeans.assign_cid pattern):
    - PREFILTER: approximate cosines C̃ = (X·Xᵀ)/outer(n,n) from one
      GEMM; float64 GEMM differs from the exact sequential fold by
      ≤ ~(d+3)·u·(1+|cos|) ≈ 1e-14 ≪ the 2e-6 margin, so every pair
      whose det-rounded exact cosine could reach the threshold
      (exact ≥ t − 0.5·10^-round_to − ulp) satisfies
      C̃ ≥ t − 2e-6 and survives; NaN comparisons keep the pair (see
      below). Prefilter perturbations (BLAS blocking/threading) only
      move pairs whose exact cosine is ≥ 1e-6 BELOW the bar — they
      fail the exact re-verify either way, so the output is stable.
    - EXACT RE-VERIFY (survivors only): the package's one cosine
      kernel, functions.cosine.cosine_rows — sequential left folds for the dot and
      the norms, one divide, det_round — whose bits equal
      det_round(cosine_sim(...)) (see its docstring).
    - DEGENERATE VECTORS: a zero-norm vector makes the Catalyst divide
      NULL and the kernel's score NULL (NaN here), so the pair fails
      `cosine ≥ threshold` and is dropped; a NaN/Inf element gives a
      NaN cosine that det_round's FLOOR → LONG cast maps to 0.0. The
      prefilter keeps NaN candidates so the decision is always made by
      the exact kernel.
    - PAIR SET: ids are sorted ascending per cell and pairs taken from
      the strict upper triangle — exactly the join's id_a < id_b set.

    Memory: the GEMM runs in row blocks of ≤512, so per-task temps are
    ≤ 512·m doubles even on the uncapped audit path's mega cells (the
    old join streamed those m² rows instead — both are quadratic TIME
    by contract there; the capped production route never sends a cell
    larger than max_cell here)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    out_schema = "id_a BIGINT, id_b BIGINT, cosine DOUBLE"
    empty = pd.DataFrame(
        {
            "id_a": pd.Series([], dtype="int64"),
            "id_b": pd.Series([], dtype="int64"),
            "cosine": pd.Series([], dtype="float64"),
        }
    )

    def _cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        X = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        norms = row_norms(X)
        ias, ibs, coss = [], [], []
        blk = 512
        for s in range(0, m - 1, blk):
            e = min(s + blk, m - 1)
            g = X[s:e] @ X.T  # (e-s, m) approximate dots
            with np.errstate(divide="ignore", invalid="ignore"):
                ct = g / (norms[s:e, None] * norms[None, :])
            # strict upper triangle only: j > i
            jgrid = np.arange(m)[None, :] > np.arange(s, e)[:, None]
            keep = jgrid & ((ct >= thr - 2e-6) | np.isnan(ct))
            ii, jj = np.nonzero(keep)
            if ii.size == 0:
                continue
            ii = ii + s
            cosr = cosine_rows(X[ii], X[jj], norms[ii], norms[jj], round_to)
            ok = cosr >= thr
            if ok.any():
                ias.append(ids[ii[ok]])
                ibs.append(ids[jj[ok]])
                coss.append(cosr[ok])
        if not ias:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(ias).astype(np.int64),
                "id_b": np.concatenate(ibs).astype(np.int64),
                "cosine": np.concatenate(coss),
            }
        )

    return (
        cells.select(F.col(cid_col), F.col(id_col), F.col(vec_col))
        .groupBy(cid_col)
        .applyInPandas(_cell, out_schema)
    )


def semantic_candidate_pairs(
    assign: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    round_to: int = 6,
    max_cell: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup candidate mining (Abbas et al. 2023, arXiv:2303.09540):
    cosine-duplicate pairs WITHIN each k-means cell of the embedding
    space. The cell assignment turns the all-pairs O(n²) comparison
    into Σ|cell|² work behind one equi-join on cid — the same
    bound-the-quadratic trick as LSH banding (lsh_candidate_pairs),
    with the centroid count k as the knob: more cells → smaller
    quadratic per cell → lower recall for pairs straddling cell
    boundaries (the paper's accepted approximation; measured by the
    dedup_semantic_recall_audit row). Reads the PERSISTED trained
    assignment (index_store.ivf_trained — cid-partitioned with vectors
    co-located), so the self-join is an equi-join on the partition
    key, and a production run would add a mega-cell cap exactly like
    max_bucket.

    Reference seam: the reference's CLIP keyframe embeddings
    (/root/reference/utils/faiss_processing.py:39-41) are the space
    this dedupes — near-identical keyframes from adjacent video frames
    are its dominant redundancy.

    `max_cell=B` is the VIRAL-CELL guard: cells with ≤ B members emit
    all pairs; larger (mega) cells are SUB-BUCKETED by SRP hyperplane
    bands (ann.signature_bits — the emb-LSH machinery scoped inside
    the cell), so a hot cell contributes O(m · band-collision rate)
    candidates, not O(m²). Unlike the MinHash max_bucket chain+star
    (whose buckets ARE duplicate cliques), a Voronoi cell is not a
    clique — a spanning set would miss real pairs — so the guard
    trades recall probabilistically like any LSH band
    (dedup_semantic_capped_recall_audit measures what it drops)."""
    if max_cell is None:
        # within-cell scoring as ONE grouped Arrow GEMM kernel (r11,
        # guide §4.2) — replaces the cell self-join + per-pair fold;
        # bit-identical output (see _cell_cosine_pairs_arrow)
        return _cell_cosine_pairs_arrow(
            assign, threshold, id_col, vec_col, cid_col, round_to
        )

    # Route on a tiny driver probe of the cell-size histogram: a
    # HEALTHY corpus (no cell over the cap) runs the EXACT uncapped
    # plan — the guard machinery (banding, windows, refetch verify)
    # never even enters the plan, so arming the cap costs one
    # aggregation-sized job until the day it fires (the
    # connected_components_auto gate pattern). The probe is a groupBy
    # count — |cells| rows, partial-aggregated — never a corpus scan
    # beyond the one aggregation pass.
    sizes = assign.groupBy(cid_col).agg(F.count(F.lit(1)).alias("__m"))
    if sizes.filter(F.col("__m") > max_cell).limit(1).count() == 0:
        return semantic_candidate_pairs(
            assign, threshold, id_col, vec_col, cid_col, round_to
        )
    # Small (healthy) cells run the same grouped Arrow GEMM kernel the
    # uncapped path runs (exact plan, cells co-located on cid). Only
    # MEGA cells pay the sub-bucket + refetch-verify machinery.
    sized = assign.join(F.broadcast(sizes), cid_col)
    small = sized.filter(F.col("__m") <= max_cell)
    small_scored = _cell_cosine_pairs_arrow(
        small, threshold, id_col, vec_col, cid_col, round_to
    )
    mega_pairs = _mega_cell_band_pairs(
        sized.filter(F.col("__m") > max_cell), id_col, vec_col, cid_col, dim,
        sub_cap=max_cell,
    )
    mega_scored = dense.cosine_pairs(
        assign, mega_pairs, threshold, id_col, vec_col, round_to
    )
    return small_scored.unionByName(mega_scored)


def semantic_candidates(
    assign: DataFrame,
    max_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    dim: int = 64,
) -> DataFrame:
    """The CAPPED candidate generation alone (pre-verify): small-cell
    all-pairs + SRP-band sub-bucket pairs inside mega cells, distinct
    (id_a, id_b). Exposed separately so monitoring/bench code can
    count candidate volume — the robust drift/skew signal — without
    paying the exact-cosine verify.

    Cell sizing is a groupBy on cid (partial-aggregated, |cells| rows)
    broadcast back onto the assignment — NOT a corpus-wide window,
    which would shuffle the whole corpus by cid just to count it. The
    broadcast is |cells|-sized: nlist in any FAISS-practice deployment
    is ≤ ~2²⁰, megabytes not corpus-scale."""
    sizes = assign.groupBy(cid_col).agg(F.count(F.lit(1)).alias("__m"))
    sized = assign.join(F.broadcast(sizes), cid_col)
    small = sized.filter(F.col("__m") <= max_cell)
    sa = small.select(F.col(cid_col), F.col(id_col).alias("id_a"))
    sb = small.select(F.col(cid_col), F.col(id_col).alias("id_b"))
    small_pairs = (
        sa.join(sb, cid_col).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    )
    mega_pairs = _mega_cell_band_pairs(
        sized.filter(F.col("__m") > max_cell), id_col, vec_col, cid_col, dim,
        sub_cap=max_cell,
    )
    return small_pairs.unionByName(mega_pairs)


def _mega_cell_band_pairs(
    mega: DataFrame,
    id_col: str,
    vec_col: str,
    cid_col: str,
    dim: int,
    sub_cap: int | None = None,
) -> DataFrame:
    """SRP band sub-bucket pairs inside over-cap (mega) cells: sign
    signatures over md5-derived hyperplanes, banded, self-joined on
    (cid, band, bval).

    Two guards compose here, each against a different viral shape:
    - DISSIMILAR vectors crowding one Voronoi cell are split by the
      band values (they disagree on hyperplane signs), so the cell
      never goes all-pairs — O(m · collision rate) candidates.
    - NEAR-IDENTICAL vectors (the keyframe-burst / boilerplate shape)
      collide in EVERY band, so banding alone prunes nothing for them
      — exactly the case the MinHash max_bucket chain+star solved.
      `sub_cap` applies the same spanning emission INSIDE an over-cap
      (cid, band, bval) sub-bucket: id-sorted consecutive chain plus a
      star to the sub-bucket minimum, O(m) pairs. A sub-bucket that
      large (shared cell AND full signature agreement) is clique-like
      by construction, so the spanning set preserves the
      connected-components closure — the lsh_candidate_pairs argument,
      scoped to where it is actually valid (a raw k-means cell is NOT
      a clique; a full-band-match sub-bucket of one is).

    Only the band pairs need the distinct (the same pair can collide
    in several bands; small-cell pairs are unique by construction), so
    the dedup shuffle is mega-sized, never corpus-pair-sized. The
    windows (count/min/lag over (cid, band, bval)) are one sort-
    shuffle of the MEGA subset only — a 10⁶-member viral sub-bucket is
    10⁶ rows in one task instead of 10¹² join outputs."""
    from multi_search_retrival_big_data_spark.operators import ann as _ann

    planes = _ann.hyperplanes(dim, _ann.NUM_PLANES)
    rows = _ann.NUM_PLANES // _ann.ANN_BANDS
    sig = mega.select(
        F.col(cid_col), F.col(id_col), _ann.signature_bits(vec_col, planes).alias("__sig")
    )
    banded = sig.select(
        cid_col,
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("__sig", b * rows + 1, rows).alias("bval"),
                    )
                    for b in range(_ann.ANN_BANDS)
                ]
            )
        ).alias("e"),
    ).select(cid_col, id_col, "e.band", "e.bval")
    if sub_cap is None:
        ma = banded.select(cid_col, "band", "bval", F.col(id_col).alias("id_a"))
        mb = banded.select(cid_col, "band", "bval", F.col(id_col).alias("id_b"))
        return (
            ma.join(mb, [cid_col, "band", "bval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    w = Window.partitionBy(cid_col, "band", "bval")
    wo = w.orderBy(id_col)
    annb = banded.select(
        F.col(cid_col),
        F.col(id_col).alias("id"),
        "band",
        "bval",
        F.count(F.lit(1)).over(w).alias("__m2"),
        F.min(id_col).over(w).alias("__mn"),
        F.lag(id_col).over(wo).alias("__prev"),
    )
    sm = annb.filter(F.col("__m2") <= sub_cap)
    pa = sm.select(F.col("id").alias("id_a"), cid_col, "band", "bval")
    pb = sm.select(F.col("id").alias("id_b"), cid_col, "band", "bval")
    sub_small = (
        pa.join(pb, [cid_col, "band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    over = annb.filter(F.col("__m2") > sub_cap)
    chain = over.filter(F.col("__prev").isNotNull()).select(
        F.col("__prev").alias("id_a"), F.col("id").alias("id_b")
    )
    star = over.filter(F.col("id") > F.col("__mn")).select(
        F.col("__mn").alias("id_a"), F.col("id").alias("id_b")
    )
    return (
        sub_small.unionByName(chain).unionByName(star).distinct()
    )


def semantic_cell_pair_budget(assign: DataFrame, cid_col: str = "cid") -> DataFrame:
    """Analytic UNCAPPED pair budget from cell sizes alone —
    Σ m·(m−1)/2 without generating a single pair. One tiny groupBy;
    the monitoring-side twin of lsh_bucket_stats' full_pairs column
    (what the uncapped within-cell self-join WOULD emit)."""
    return (
        assign.groupBy(cid_col)
        .agg(F.count(F.lit(1)).alias("m"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.max("m").alias("max_cell_size"),
            F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("bigint").alias(
                "uncapped_pairs"
            ),
        )
    )


def semantic_delta_candidate_pairs(
    assign: DataFrame,
    delta_ids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    round_to: int = 6,
) -> DataFrame:
    """Incremental SemDeDup: cosine-duplicate candidates TOUCHING a
    delta batch — the semantic twin of lsh_delta_candidate_pairs. The
    delta's cell rows (ids only) equi-join the full cid-partitioned
    assignment table, unordered pairs collapse in a distinct, and one
    exact-cosine verify runs on the candidate-bound pair list (vectors
    fetched by unique-id joins, jaccard_for_pairs-style).

    This is how a continuously-ingesting pipeline semantically dedups
    an incoming batch against a 100 TB corpus WITHOUT re-running the
    within-cell self-join: index_store.ivf_assignments_incremental
    appends the delta under the FROZEN quantizer (pure per-vector
    function), then this probe pays O(|delta| · |cell|). Cosine
    orientation is immaterial bit-for-bit (dot/norm folds are
    index-ordered; double multiply commutes exactly), so verifying on
    (least, greatest) pairs matches the full-path values."""
    d = assign.join(
        F.broadcast(delta_ids.select(id_col)), id_col, "left_semi"
    ).select(F.col(id_col).alias("__id_d"), cid_col)
    o = assign.select(F.col(id_col).alias("__id_o"), cid_col)
    pairs = (
        d.join(o, cid_col)
        .filter(F.col("__id_d") != F.col("__id_o"))
        .select(
            F.least("__id_d", "__id_o").alias("id_a"),
            F.greatest("__id_d", "__id_o").alias("id_b"),
        )
        .distinct()
    )
    return dense.cosine_pairs(assign, pairs, threshold, id_col, vec_col, round_to)


def semantic_dedup(
    assign: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cid_col: str = "cid",
    round_to: int = 6,
    max_cell: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup product table: (id, cluster_id, keep) for EVERY vector.

    Pipeline: within-cell cosine pairs ≥ threshold →
    connected_components_auto over the pair graph → keep ONE member
    per duplicate group: the member with the LOWEST cosine to its cell
    centroid (the paper's rule — keep the example farthest from the
    cluster center, preserving edge-of-distribution data), ties →
    smallest id. Election and annotation reuse keep_canonical with
    quality = −centroid-sim, so the membership-only groupBy election
    and the broadcast annotation joins (zero corpus shuffles) are
    shared with the MinHash product table.

    `max_cell` routes candidate mining through the VIRAL-CELL guard
    (semantic_candidate_pairs max_cell — SRP band sub-bucketing inside
    mega cells). Within-cell pairs are quadratic in cell size and
    under a FROZEN quantizer cells grow linearly with the corpus, so
    the uncapped path is the same quadratic blowup the MinHash
    max_bucket cap fixed — a production run sets the cap; the
    uncapped path remains the recall-audit oracle."""
    from multi_search_retrival_big_data_spark.functions.rounding import det_round
    from multi_search_retrival_big_data_spark.functions.vector import cosine_sim

    pairs = semantic_candidate_pairs(
        assign, threshold, id_col, vec_col, cid_col, round_to,
        max_cell=max_cell, dim=dim,
    )
    comp = connected_components_auto(pairs.select("id_a", "id_b"))
    scored = assign.join(F.broadcast(centroids), cid_col).select(
        F.col(id_col),
        (-det_round(cosine_sim(vec_col, "cv"), round_to)).alias("__negsim"),
    )
    return keep_canonical(scored, comp, id_col, "__negsim")


# Exact-substring (duplicate-span) dedup defaults, shared with the
# oracle generators in queries/pipeline_queries.py — keep in sync.
SPAN_MIN_TOKENS = 8  # gate-scale span length; production runs ~50 (Lee et al. 2022)
SPAN_MIN_DOCS = 2  # cross-document occurrence threshold


def duplicate_span_windows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = SPAN_MIN_TOKENS,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """Every token position (1-based) starting a `min_len`-token window
    whose exact content occurs in ≥ `min_docs` DISTINCT documents —
    the marked-window set behind exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"),
    re-expressed for Spark: the suffix-array pass over the concatenated
    corpus becomes a rolling window-hash equi-group, which finds the
    identical duplicated substrings of length ≥ min_len without any
    global ordering. Returns (id, pos).

    The reference dedupes at whole-item granularity only (dense ids,
    np.unique fusion — /root/reference/utils/combine_utils.py:20-24);
    span-level dedup is the corpus-preparation capability document-level
    MinHash cannot see (a licence header pasted into thousands of
    otherwise-unique files never lifts document Jaccard over threshold).

    Cross-document (`count(DISTINCT id) >= min_docs`) rather than
    any-second-occurrence is deliberate: within-document repetition is
    a fluency/quality signal (textanalysis.repetition metrics), not
    contamination; the Lee et al. any-occurrence variant is
    `min_docs=1` with `count(*) >= 2` — one HAVING clause away.

    Scale notes:
    - window hashing is ONE narrow pass (tokenize once per doc, slice
      +md5 per position — no self-join, no suffix sort);
    - the duplicated-hash table is a map-side-combined groupBy on the
      16-byte digest (shuffle volume ≤ distinct window hashes); at
      production min_len≈50 the over-threshold set is tiny relative to
      the corpus (duplication is the exception), so the join back is a
      broadcast in production — same economics as
      curation.remove_boilerplate_lines' line-df table. At gate scale
      both sides hash-partition on `h`.
    - total work is O(total tokens), the same bound as the MinHash
      shingle pass."""
    from multi_search_retrival_big_data_spark.functions.text import tokenize

    win = (
        ensure_min_partitions(docs)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias("__t"))
        .filter(F.size("__t") >= min_len)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(1), F.size("__t") - F.lit(min_len - 1))
            ).alias("pos"),
            F.col("__t"),
        )
        .select(
            F.col(id_col),
            F.col("pos"),
            F.md5(
                F.array_join(F.slice(F.col("__t"), F.col("pos"), F.lit(min_len)), " ")
            ).alias("h"),
        )
    )
    # ONE evaluation of the window-hash pass (r11, guide §2.4): the old
    # groupBy(h)+count_distinct gate joined back against `win`, which
    # re-ran the tokenize+md5 pass per side (the aggregate side's
    # exchange carries partial-agg rows, so Spark cannot reuse it for
    # the join side — the same 2× the audio df-cap had). Collecting
    # each hash's (id, pos) occurrences into ONE member array rides a
    # single exchange on h; the distinct-doc gate is
    # size(array_distinct(ids)) — the same count the old gate computed
    # — and the explode returns exactly the rows the join emitted.
    # Memory bound: one hash's occurrence list sits in one agg buffer
    # (~16 B/occurrence); even the skew tier's viral boilerplate hash
    # (every byte-identical copy marks the same windows) is
    # thousands of entries, kilobytes — duplication-sized, never
    # corpus-sized.
    per_hash = (
        win.groupBy("h")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
            ).alias("__L")
        )
        .filter(F.size(F.array_distinct(F.col("__L.id"))) >= min_docs)
    )
    return per_hash.select(F.explode("__L").alias("__e")).select(
        F.col("__e.id").alias(id_col), F.col("__e.pos").alias("pos")
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = SPAN_MIN_TOKENS,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """Per-document CUT LIST: maximal token spans [span_start, span_end]
    (1-based, inclusive) covered by cross-document duplicated
    `min_len`-token windows, i.e. overlapping/adjacent marked windows
    merged gaps-and-islands style. Returns (id, span_start, span_end,
    span_len, n_windows).

    Merging is exact, not heuristic: window starts are sorted within
    each doc, so the running interval end is `lag(pos) + min_len - 1`
    and a new island starts exactly when `pos > lag(pos) + min_len`
    (a one-token gap breaks the span). One doc-partitioned window
    spec + one groupBy — the merge never shuffles more than the marked
    windows, which are duplication-volume-, not corpus-, sized."""
    marked = duplicate_span_windows(docs, id_col, text_col, min_len, min_docs)
    w = Window.partitionBy(id_col).orderBy("pos")
    lagp = F.lag("pos").over(w)
    isl = (
        marked.withColumn(
            "__new",
            F.when(lagp.isNull() | (F.col("pos") > lagp + F.lit(min_len)), 1).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    return (
        isl.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(min_len - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_windows",
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = SPAN_MIN_TOKENS,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """The dedup PRODUCT for exact-substring dedup: each document
    reassembled with every duplicated-span token removed. Returns
    (id, text, n_tokens_kept, n_tokens_removed) — token-granularity
    reassembly (tokens re-joined with single spaces; original
    whitespace/punctuation between kept tokens is not preserved, which
    is the declared semantics of a token-level cut, exactly as
    curation.remove_boilerplate_lines declares line-level cuts).

    Contracts shared with remove_boilerplate_lines (pinned r4 advice):
    a document whose EVERY token is covered comes back with text = NULL
    (never ''), matching the oracle's `string_agg(...) FILTER` which is
    NULL over an empty group, so `text IS NULL ⟺ n_tokens_kept = 0`;
    documents with zero tokens yield no rows (posexplode of an empty
    array), identical to the oracle's empty unnest range.

    Shape: covered positions = explode(sequence(pos, pos+L-1)) over the
    marked windows (duplication-sized, deduped), one left join on
    (id, pos), one groupBy(id) reassembly — the corpus token stream
    shuffles once, on the doc id it was already grouped by."""
    from multi_search_retrival_big_data_spark.functions.text import tokenize

    marked = duplicate_span_windows(docs, id_col, text_col, min_len, min_docs)
    covered = marked.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(min_len - 1))
        ).alias("pos"),
    ).distinct()
    tokpos = (
        ensure_min_partitions(docs)
        .select(F.col(id_col), F.posexplode(tokenize(F.col(text_col))).alias("__p0", "tok"))
        .select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), F.col("tok"))
    )
    joined = tokpos.join(
        covered.withColumn("__cov", F.lit(True)), [id_col, "pos"], "left"
    ).withColumn("__keep", F.col("__cov").isNull())
    agged = joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("pos"), F.col("tok")),
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("__joined"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).alias("n_tokens_kept"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_tokens_removed"),
    )
    return agged.select(
        F.col(id_col),
        F.when(F.col("n_tokens_kept") > 0, F.col("__joined")).alias("text"),
        "n_tokens_kept",
        "n_tokens_removed",
    )


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str,
    quality_col: str,
    node_col: str = "node",
) -> DataFrame:
    """The dedup PRODUCT: per-document keep/drop decisions given a
    duplicate-cluster table (connected_components_* output). Nearest
    reference behavior: the idempotent skip-if-exists re-ingest
    (/root/reference/data_extraction/clip/clip.ipynb cell 7,
    SKIP_EXISTING — "keep the first copy per id"), generalized to
    content-level clusters: every
    cluster keeps exactly one canonical representative (highest
    `quality_col`, ties to the smallest id — 'keep the longest/best
    member', the standard crawl-dedup rule), every unclustered
    document survives as its own singleton. Output: (id, cluster_id
    coalesced to the own id for singletons, keep BOOLEAN) for EVERY
    input document — the table a corpus-filter job semi-joins against.

    Scale notes: the cluster-membership table holds only verified
    near-dup members — orders of magnitude smaller than the corpus —
    so the winner election is a partial-aggregated groupBy on that
    small table (min of a (−quality, id) struct ≡ row_number()=1 by
    quality DESC, id ASC, without a window), and the corpus pays
    exactly TWO broadcast-hash passes (quality lookup into the
    membership, then the left annotation join) — zero corpus
    shuffles. The membership sides carry explicit broadcast hints for
    the same reason jaccard_for_pairs broadcasts its candidate set:
    the verified-duplicate population is assumed ≪ corpus (without the
    hints the distributed components lineage has no usable size
    stats and Spark falls back to sort-merge, shuffling the corpus
    twice — measured 6.3× vs 3.8× on the 10× stress tier). No
    corpus-wide window, no skew exposure: the join key is the unique
    document id."""
    members = F.broadcast(
        clusters.select(F.col(node_col).alias(id_col), "cluster_id")
    ).join(docs.select(F.col(id_col), F.col(quality_col)), id_col)
    winners = (
        members.groupBy("cluster_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col(quality_col)).alias("nq"), F.col(id_col).alias("w")
                )
            ).alias("s")
        )
        .select("cluster_id", F.col("s.w").alias("__winner"))
    )
    annotated = members.join(F.broadcast(winners), "cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.col(id_col) == F.col("__winner")).alias("keep"),
    )
    return docs.select(F.col(id_col)).join(
        F.broadcast(annotated), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        F.coalesce(F.col("keep"), F.lit(True)).alias("keep"),
    )
