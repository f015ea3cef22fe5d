"""Approximate nearest-neighbor search over embedding columns.

The reference's dense search is an exact FAISS flat scan
(utils/faiss_processing.py:17-22 — IndexFlatIP, no ANN anywhere); at
100 TB an exact per-query scan is the bottleneck, so this module adds
the scale path: **random-hyperplane LSH** (sign-random-projection,
Charikar STOC'02). The corpus is bucketed once at ingest by the sign
pattern of P fixed hyperplanes; a query probes only the rows sharing
at least one of its B band values, then ranks candidates by exact
cosine. Collision probability per plane is 1 - θ/π, so banding tunes
the recall/candidate-count trade-off exactly like MinHash-LSH does for
Jaccard.

Determinism: hyperplane components are ±1 derived from md5 of
"(plane, dim)" — generated driver-side in pure Python, closed over by
the Arrow signature kernel and embedded as literals in the DuckDB
oracle SQL, so the two engines bucket identically (dot products are
sequential double folds, bit-identical between the kernel's prefix
sum and DuckDB's `list_dot_product`; see `signature_bits`).

Scale notes: the signature computation is one narrow projection (no
shuffle); candidate selection is a partition-pruned scan when the
table is written partitioned/bucketed by a signature band; the final
exact rank touches only candidates (TakeOrderedAndProject top-k).
The same banding powers embedding near-duplicate *pair* mining without
an all-pairs cross join.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.functions.rounding import det_round
from multi_search_retrival_big_data_spark.functions.vector import (
    cosine_sim,
    lit_vec,
)
from multi_search_retrival_big_data_spark.operators import dense, kmeans
from multi_search_retrival_big_data_spark.partitioning import ensure_min_partitions

NUM_PLANES = 16
ANN_BANDS = 4
ANN_ROWS = NUM_PLANES // ANN_BANDS


def lsh_geometry(dim: int, rows: int = ANN_ROWS) -> tuple[int, int]:
    """DIMENSION-DERIVED SRP banding geometry → (num_planes, bands).

    Space-partitioning recall does NOT transfer across dimension: at
    d=64 the (16 planes, 4 bands) default reaches recall@50 0.42-1.0,
    but at the production width d=768 (reference CLIP,
    /root/reference/data_extraction/create_bin.ipynb cells 3,8) the
    same geometry measures 0.34 — per-bit SRP agreement for the
    top-50 falls toward ~0.6 as angles concentrate, so recall must be
    bought with MORE bands (union over bands), not deeper ones
    (p^rows collapses when p is barely above the 0.5 random rate;
    measured: rows=6 at d=768 → recall 0.10-0.26). Scaling bands
    linearly with dimension holds recall: bands = max(4, ⌈4·d/256⌉)
    → 4 at d ≤ 256 (measured 0.42-1.0 at d=64), 12 at d=768
    (measured 0.84 at 55% candidate fraction — the geometry limit of
    sign-random-projection on this corpus; PQ/SQ8 are the
    high-recall paths at width, this is the cheap-index one). Row
    depth stays at 4: the candidate fraction of a band is ~2^-rows
    for unrelated vectors regardless of corpus size, so rows set the
    floor cost and bands buy recall linearly on top."""
    bands = max(ANN_BANDS, -(-ANN_BANDS * dim // 256))  # ceil
    return bands * rows, bands


def ivf_nprobe_frac(dim: int) -> float:
    """DIMENSION-DERIVED IVF probe fraction (nprobe = ⌈frac · nlist⌉).

    Same non-transfer story as lsh_geometry: at d=64, nprobe=2 of ~80
    stride cells reaches the serving recall target, but at d=768 the
    measured trained-quantizer grid needs ~60% of the cells for
    recall@50 ≥ 0.8 (nprobe 16/33 → 0.74, 24/33 → 0.92) — cell
    boundaries stop separating neighbors as angles concentrate.
    Empirical fit, re-measured per corpus by the bench dim-tier grid:
    frac = min(0.75, 0.05 · d/64)."""
    return min(0.75, 0.05 * dim / 64.0)


IVF_TARGET_CELL = 62  # == IVF_CENTROID_STRIDE: expected members per cell


def ivf_nlist(n: int, target_cell_size: int = IVF_TARGET_CELL) -> int:
    """CORPUS-DERIVED nlist — the quantizer RETRAIN policy.

    nlist = ⌈N / target_cell_size⌉, so the expected inverted-list /
    SemDeDup-cell population stays ≈ target_cell_size at ANY corpus
    size. Under the deterministic stride seed (kmeans.stride_init,
    stride = target_cell_size) this holds automatically whenever the
    quantizer is (re)trained on the CURRENT corpus — the stride elects
    ⌈N/stride⌉ seeds. What goes wrong without the policy: the
    incremental append paths (index_store.ivf_assignments_incremental,
    streaming ingest) run under a FROZEN quantizer whose nlist was
    fixed at build-time N₀, so after G× growth every cell holds
    ≈ G·target members — IVF probes scan G× the candidates and
    SemDeDup's within-cell pair budget grows G² per cell (the guard
    path becomes the common case, not the viral-cell exception).

    Retrain trigger: monitor_semantic_cell_stats /
    ann_incremental_recall_drift watch exactly this; when the observed
    mean cell size exceeds ~2× target_cell_size, retrain with
    nlist = ivf_nlist(N_current) and re-assign (FAISS's own
    train/add boundary). The dedup_semantic_retrain_policy row proves
    both arms: frozen max-cell grows ∝ G, retrained stays ≈ target."""
    return max(1, -(-n // target_cell_size))


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane: component d flips on the parity of
    the first hex digit of md5('{plane}:{d}'). Pure function — the
    oracle SQL embeds the identical literal."""
    return [
        1.0 if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for d in range(dim)
    ]


def hyperplanes(dim: int, num_planes: int = NUM_PLANES) -> list[list[float]]:
    return [hyperplane(p, dim) for p in range(num_planes)]


def signature_bits(
    vec_col: str | Column, planes: Sequence[Sequence[float]]
) -> Column:
    """LSH signature as a bit string: bit p = 1 iff vec·plane_p ≥ 0 —
    the one sign kernel of the package, evaluated per Arrow batch in
    NumPy at every width (index builds, serving probes, SemDeDup's
    mega-cell sub-buckets, the recall grids).

    Identity argument (why the bits equal the oracle's
    `list_dot_product(v, plane) >= 0`):
    - applying the sign is `x * (±1.0)`, exact in IEEE;
    - the per-plane total is `np.cumsum(signed, axis=1)[:, -1]` — a
      prefix scan, which is BY DEFINITION a sequential left fold (a
      pairwise regrouping could not produce the intermediate
      prefixes), i.e. the same `((0+x0)+x1)+…` double accumulation as
      DuckDB's list fold;
    - the only divergence window is the fold seed (0.0 + x0 vs x0),
      which differs solely in the sign of a zero total, and the bit
      predicate `total >= 0` maps −0.0 and +0.0 to the same bit.
    `tests/test_ann.py` pins the equality against DuckDB on real
    embeddings at d=64 and at the production width (48 planes × 768,
    reference CLIP, data_extraction/create_bin.ipynb cells 3,8).

    Why a batch kernel: as a Catalyst expression the signature is
    either num_planes·dim array literals (a ~10⁵-node tree at 48×768
    that stalls analysis) or num_planes·dim interpreted lambda
    dispatches per row (~180 s for a 2k-row d=768 build); one Arrow
    batch does the same math as `num_planes` vectorized C passes.
    Planes must be ±1 (the `hyperplanes` family): the sign-only
    contract is what makes `x * (±1.0)` exact."""
    for p in planes:
        if any(abs(float(c)) != 1.0 for c in p):
            raise ValueError("signature_bits requires ±1 hyperplanes")
    signs = np.asarray(
        [[1.0 if float(c) > 0 else -1.0 for c in p] for p in planes],
        dtype=np.float64,
    )

    @F.pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy()).astype(np.float64)
        bits = np.empty((x.shape[0], signs.shape[0]), dtype="U1")
        for pi in range(signs.shape[0]):
            tot = np.cumsum(x * signs[pi], axis=1)[:, -1]
            bits[:, pi] = np.where(tot >= 0, "1", "0")
        return pd.Series(["".join(row) for row in bits])

    return _sig(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def signature_of(vec: Sequence[float], planes: Sequence[Sequence[float]]) -> str:
    """Driver-side signature of a literal query vector (pure Python —
    same ±1 dot, so it can only disagree with the engine if the dot is
    exactly at a representable sign boundary, which the md5-derived
    planes make measure-zero)."""
    out = []
    for p in planes:
        s = 0.0
        for x, y in zip(vec, p):
            s += float(x) * float(y)
        out.append("1" if s >= 0 else "0")
    return "".join(out)


def query_bands(
    sig: str, bands: int = ANN_BANDS, rows: int = ANN_ROWS
) -> list[tuple[int, str]]:
    return [(b, sig[b * rows : (b + 1) * rows]) for b in range(bands)]


def _subset_semi_join(
    df: DataFrame, subset: DataFrame | None, id_col: str
) -> DataFrame:
    """Shared filtered-mode contract for every ANN serving path: when
    `subset` (an allowed-id DataFrame, first column = the ids) is
    given, restrict `df` to it with a left-semi join; otherwise
    pass-through. Centralized so the contract (column-0 convention,
    semi-join placement) changes in one place."""
    if subset is None:
        return df
    allowed = subset.select(F.col(subset.columns[0]).alias(id_col))
    return df.join(allowed, id_col, "left_semi")


def banded_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
) -> DataFrame:
    """LSH BUILD job: (id, band, bval) — one row per (vector, band).
    Persist PARTITIONED BY (band, bval) (index_store.emb_lsh_bands)
    and a query's band probe becomes partition pruning: it reads
    `bands` of the `bands × 2^rows` partitions, never the corpus. This
    is the at-rest layout the module header promises."""
    planes = hyperplanes(dim, num_planes)
    rows = num_planes // bands
    sig = emb.select(F.col(id_col), signature_bits(vec_col, planes).alias("__sig"))
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("__sig", b * rows + 1, rows).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select(id_col, "e.band", "e.bval")


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    round_to: int | None = None,
    banded: DataFrame | None = None,
    subset: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: keep rows sharing ≥1 signature band with the query,
    rank candidates by exact cosine. Returns (id, score) — a strict
    subset of the exact scan's candidate set, identical ranking within
    it.

    `banded` is the precomputed (id, band, bval) table
    (index_store.emb_lsh_bands): candidate selection is then a
    partition-pruned read of the query's `bands` buckets + a semi-join
    — the per-query 16-hyperplane signature pass over the corpus
    disappears from the plan. Without it the signature is computed
    inline (self-contained mode).

    `subset` (an allowed-id DataFrame) makes this the FILTERED LSH
    search: the semi-join applies AFTER the bucket probe and BEFORE
    the exact-cosine rank — pre-filter semantics inside the probed
    buckets, same placement as every other filtered serving path."""
    dim = len(query_vec)
    planes = hyperplanes(dim, num_planes)
    rows = num_planes // bands
    qsig = signature_of(query_vec, planes)

    if banded is not None:
        cond = None
        for b, qband in query_bands(qsig, bands, rows):
            c = (F.col("band") == b) & (F.col("bval") == F.lit(qband))
            cond = c if cond is None else cond | c
        cand = _subset_semi_join(
            banded.filter(cond).select(id_col).distinct(), subset, id_col
        )
        return dense.topk_cosine(
            emb.join(cand, id_col, "left_semi"),
            query_vec, k, id_col, vec_col, round_to=round_to,
        )
    emb = ensure_min_partitions(emb)  # one signature per row: CPU-bound
    sig = signature_bits(vec_col, planes)
    cond = None
    for b, qband in query_bands(qsig, bands, rows):
        c = F.substring(F.col("__sig"), b * rows + 1, rows) == F.lit(qband)
        cond = c if cond is None else cond | c
    return dense.topk_cosine(
        _subset_semi_join(
            emb.withColumn("__sig", sig).filter(cond), subset, id_col
        ),
        query_vec, k, id_col, vec_col, round_to=round_to,
    )


CASCADE_MIN_CANDIDATES = 100  # default gate: 2×k at the k=50 serving default


def ann_cascade_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int,
    banded: DataFrame,
    min_candidates: int = CASCADE_MIN_CANDIDATES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    round_to: int | None = None,
) -> DataFrame:
    """Serving ROUTER: probe the LSH buckets first; if the candidate
    union is too thin to trust (|cand| < min_candidates) fall back to
    the exact scan. Thin buckets are exactly where banding
    under-delivers (sparse signature regions, unlucky queries), so the
    cascade bounds worst-case recall at the cost of an occasional
    brute-force query — the standard ANN-serving escape hatch; the
    reference unconditionally brute-forces one index
    (faiss_processing.py IndexFlat search), this serves the pruned
    path whenever it is defensible.

    The gate probe is ONE driver-side count over the partition-pruned
    bucket read (a single long — the connected_components_auto router
    pattern). The served branch re-reads the pruned buckets rather
    than persisting the candidate set: the probe read touches only
    `bands` partitions (cheap by construction), while a per-request
    `.persist()` pins executor storage with no in-function release
    point (the returned plan is lazy), which under concurrent serving
    accumulates one cache entry per query — the leak, not the
    re-read, is what hurts a serving tier. Both branches rank by the
    identical det-rounded cosine, so the router changes WHICH rows
    are scored, never how."""
    dim = len(query_vec)
    planes = hyperplanes(dim, num_planes)
    rows = num_planes // bands
    qsig = signature_of(query_vec, planes)
    cond = None
    for b, qband in query_bands(qsig, bands, rows):
        c = (F.col("band") == b) & (F.col("bval") == F.lit(qband))
        cond = c if cond is None else cond | c
    cand = banded.filter(cond).select(id_col).distinct()
    n_cand = cand.count()
    base = emb.join(cand, id_col, "left_semi") if n_cand >= min_candidates else emb
    return dense.topk_cosine(base, query_vec, k, id_col, vec_col, round_to=round_to)


def multiprobe_values(qband: str) -> list[str]:
    """The query band value plus its Hamming-1 neighbors (one bit
    flipped per position) — the standard multi-probe LSH perturbation
    set: sign bits nearest the hyperplane are the likeliest to differ
    for a true neighbor, so probing the 1-flip buckets recovers most
    of the recall an extra table would buy, for zero extra index."""
    flips = [
        qband[:i] + ("0" if qband[i] == "1" else "1") + qband[i + 1 :]
        for i in range(len(qband))
    ]
    return [qband] + flips


def ann_lsh_multiprobe_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    round_to: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MULTI-PROBE LSH top-k: candidates share ≥1 band with the query
    at Hamming distance ≤ 1 (the band's own bucket plus each 1-bit
    flip — `multiprobe_values`), ranked by exact cosine. Lv Qin et
    al.'s multi-probe trade: recall comparable to several extra hash
    tables at the cost of probing bands·(rows+1) buckets of the SAME
    index — at 100 TB that is the difference between widening the
    at-rest banding table (rows × corpus) and touching a few more
    partitions per query. Against the persisted (band, bval)-
    partitioned table the probe list is still a static partition-
    pruning predicate: `bands·(rows+1)` of the `bands·2^rows`
    partitions are read, never the corpus."""
    dim = len(query_vec)
    planes = hyperplanes(dim, num_planes)
    rows = num_planes // bands
    qsig = signature_of(query_vec, planes)
    probes = [
        (b, multiprobe_values(qband)) for b, qband in query_bands(qsig, bands, rows)
    ]
    if banded is not None:
        cond = None
        for b, vals in probes:
            c = (F.col("band") == b) & F.col("bval").isin(vals)
            cond = c if cond is None else cond | c
        cand = banded.filter(cond).select(id_col).distinct()
        return dense.topk_cosine(
            emb.join(cand, id_col, "left_semi"),
            query_vec, k, id_col, vec_col, round_to=round_to,
        )
    emb = ensure_min_partitions(emb)
    sig = signature_bits(vec_col, planes)
    cond = None
    for b, vals in probes:
        c = F.substring(F.col("__sig"), b * rows + 1, rows).isin(vals)
        cond = c if cond is None else cond | c
    return dense.topk_cosine(
        emb.withColumn("__sig", sig).filter(cond),
        query_vec, k, id_col, vec_col, round_to=round_to,
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    dim: int = 64,
    use_lsh: bool = True,
    round_to: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a, id_b, cosine ≥
    threshold).

    use_lsh=True: candidates = pairs sharing ≥1 signature band
    (equi-join on (band, band_value) — shuffle partitions by band
    value, no cross join), verified by dense.cosine_pairs. `banded`
    supplies the PRECOMPUTED (id, band, bval) table
    (index_store.emb_lsh_bands) so the per-corpus signature pass
    happens at build time, not per run. use_lsh=False: exact
    all-pairs via a single self-join scored by the Catalyst
    cosine_sim (audit path; quadratic — the oracle ground truth)."""
    emb = ensure_min_partitions(emb)
    if use_lsh:
        if banded is None:
            # bands carry only (id, band, bval): the pair dedup
            # shuffles 16-byte keys, not embedding vectors — the
            # vectors are joined back once per side after the distinct
            banded = banded_signatures(emb, id_col, vec_col, dim, num_planes, bands)
        a = banded.select(F.col(id_col).alias("id_a"), "band", "bval")
        b = banded.select(F.col(id_col).alias("id_b"), "band", "bval")
        id_pairs = (
            a.join(b, ["band", "bval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        return dense.cosine_pairs(emb, id_pairs, threshold, id_col, vec_col, round_to)
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    score = cosine_sim("__va", "__vb")
    if round_to is not None:
        score = det_round(score, round_to)
    return (
        pairs.withColumn("cosine", score)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


IVF_CENTROID_STRIDE = 62  # every 62nd vector is a centroid (deterministic)
IVF_NPROBE = 2


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = IVF_CENTROID_STRIDE,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer BUILD job (run once at ingest, like FAISS's
    IndexIVFFlat.train+add): deterministic centroids — every
    `stride`-th vector (a k-means iteration would drift between
    engines; fixed sampling keeps the oracle exact while the
    partitioning math — argmin-L2 assignment, inverted lists — is the
    real IVF shape). Returns (centroids, assignments(id, cid)).

    This is NOT the query path: persist the assignments cid-partitioned
    (index_store.ivf_assignments) and pass the
    stored table to `ann_ivf_topk(assign=...)`, which then only probes
    and prunes. The |N|/stride centroids are collected to the driver
    (kmeans.stride_init) and the assignment is `kmeans.assign_cid` — a
    narrow projection, one corpus pass at build time, no join, no
    shuffle, zero work at query time."""
    cents = kmeans.stride_init(emb, id_col, vec_col, stride)
    id_type = dict(emb.dtypes)[id_col]
    assign = emb.select(
        F.col(id_col), kmeans.assign_cid(vec_col, cents).cast(id_type).alias("cid")
    )
    return centroids(emb, id_col, vec_col, stride), assign


def centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = IVF_CENTROID_STRIDE,
) -> DataFrame:
    """The deterministic coarse-quantizer codebook: a pushed-down
    `id % stride = 0` filter on the embeddings scan — |N|/stride rows,
    read in O(scan of one column-pruned slice)."""
    return emb.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("__cv")
    )


def ann_ivf_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = IVF_CENTROID_STRIDE,
    nprobe: int = IVF_NPROBE,
    round_to: int | None = None,
    assign: DataFrame | None = None,
    subset: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN QUERY path: probe the `nprobe` centroids nearest
    the query, prune to their inverted lists, rank the cell union by
    exact cosine — the FAISS IndexIVFFlat search dataflow as joins.

    `assign` is the precomputed, cid-partitioned assignment table
    (index_store.ivf_assignments); the executed plan then contains NO
    quantizer-assignment recompute — only the |centroids|-row probe
    (pushed-filter scan + top-nprobe) and a partition-prunable join.
    When the table also carries the vectors (the (vec_id, embedding,
    cid) layout index_store persists — FAISS stores vectors inside the
    inverted lists), the exact-cosine rank reads them straight from the
    nprobe pruned partitions: the query touches nprobe/nlist of the
    index and NOTHING else. Without co-located vectors the final rank
    must semi-join the full embeddings scan to fetch them — at 100 TB
    that second scan reads ~nlist/nprobe× more bytes than the cells
    being ranked, so the co-located layout is the serving shape.
    When omitted, assignment is computed inline (audit/self-contained
    mode — a full corpus×centroids pass per query, never the serving
    shape).

    `subset` (an allowed-id DataFrame) makes this the FILTERED IVF
    search: the semi-join applies AFTER the cell prune and BEFORE the
    cosine kernel, so the plan reads nprobe/nlist of the index and
    ranks only the allowed rows inside those cells — pre-filter
    semantics within the probed shortlist, same placement as
    ann_pq_filtered_topk's prune. At 100 TB the filter column belongs
    IN the assignment table (predicate pushdown into the pruned
    partitions, no join)."""
    emb = ensure_min_partitions(emb)
    cent = centroids(emb, id_col, vec_col, stride)
    if assign is None:
        _, assign = ivf_assign(emb, id_col, vec_col, stride)
    q = lit_vec(query_vec)
    from multi_search_retrival_big_data_spark.functions.vector import l2_dist

    probed = (
        cent.select("cid", l2_dist("__cv", q).alias("__d"))
        .orderBy(F.asc("__d"), F.asc("cid"))
        .limit(nprobe)
        .select("cid")
    )
    if vec_col in assign.columns:
        # co-located layout: rank inside the pruned partitions
        cand = _subset_semi_join(
            assign.join(F.broadcast(probed), "cid"), subset, id_col
        )
        return dense.topk_cosine(cand, query_vec, k, id_col, vec_col, round_to=round_to)
    cand_ids = _subset_semi_join(
        assign.join(F.broadcast(probed), "cid").select(id_col), subset, id_col
    )
    return dense.topk_cosine(
        emb.join(cand_ids, id_col, "left_semi"),
        query_vec, k, id_col, vec_col, round_to=round_to,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the third ANN scale path (after LSH and
# IVF): compress each vector to M sub-space code bytes at build time,
# then answer queries from the code table alone via asymmetric
# distance computation (ADC, Jégou et al. TPAMI'11). FAISS exposes the
# same structure as IndexPQ/IndexIVFPQ; the reference stays with
# IndexFlatIP (faiss_processing.py:17-22), so like LSH/IVF this is the
# documented 100 TB alternative, with a recall-grid audit to govern it.
#
# Codebooks are DETERMINISTIC, like the IVF coarse quantizer: the
# codebook for sub-space m is the m-th slice of the first KS
# stride-spaced corpus vectors (k-means would drift between engines;
# fixed sampling keeps the DuckDB oracle exact while the structure —
# per-sub-space argmin encode, LUT + additive scoring — is the real PQ
# dataflow).
# ---------------------------------------------------------------------------

PQ_M = 8          # sub-spaces (64-d → 8 slices of 8 dims)
PQ_KS = 16        # codes per sub-space (4-bit PQ)
PQ_STRIDE = 31    # training vectors: vec_id ∈ {0, 31, ..., 31·(KS-1)}

# Lloyd-TRAINED PQ configuration (index_store.pq_trained): finer
# sub-spaces + a larger trained codebook. Measured on the sf0.01 grid:
# the M=8/KS=16 stride default tops out at recall@50 ≈ 0.86 with a
# 200-row shortlist; M=16/KS=32 + 2 Lloyd rounds reaches 1.00 — still
# only 16 small ints per vector at rest.
PQT_M = 16
PQT_KS = 32
PQT_STRIDE = 15   # 32 seeds need ks·stride = 480 ≤ |corpus|


def batch_lsh_topk(
    emb: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    round_to: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Batched multi-query LSH top-k — the serving-amortization shape
    (reference batching precedent: faiss_processing.py:307-314, the
    FAISS query-matrix search) applied to the banding table: every
    query's band signature is
    computed on the driver (pure Python, `signature_of`), the UNION of
    all probed (band, bval) keys becomes ONE partition-pruning
    predicate over the persisted banding, a request-sized
    (query_id, band, bval) probe table tags which candidates belong to
    which query, vectors join back once for the whole batch, and
    per-query top-k is a window partial sort. The banding is read
    ONCE for the batch — |union of buckets| partitions, not
    |batch| × |buckets|.

    Returns (query_id, id, score), k rows per query, descending."""
    spark = emb.sparkSession
    dim = len(queries[0][1])
    planes = hyperplanes(dim, num_planes)
    rows = num_planes // bands
    probe_pairs = []
    for qid, qv in queries:
        qsig = signature_of(qv, planes)
        probe_pairs.extend(
            (qid, b, qband) for b, qband in query_bands(qsig, bands, rows)
        )
    probe_df = tables.local_frame(
        spark, probe_pairs, "query_id INT, band INT, bval STRING"
    )
    if banded is None:
        banded = banded_signatures(emb, id_col, vec_col, dim, num_planes, bands)
    cond = None
    for _qid, b, v in probe_pairs:
        c = (F.col("band") == b) & (F.col("bval") == F.lit(v))
        cond = c if cond is None else cond | c
    cand = (
        banded.filter(cond)
        .join(F.broadcast(probe_df), ["band", "bval"])
        .select("query_id", id_col)
        .distinct()
    )
    qdf = tables.local_frame(
        spark,
        [(qid, [float(x) for x in qv]) for qid, qv in queries],
        "query_id INT, __qv ARRAY<DOUBLE>",
    )
    score = cosine_sim(vec_col, "__qv")
    if round_to is not None:
        score = det_round(score, round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", F.col(id_col), score.alias("score"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("score"), F.asc(id_col))
    )


def _l2_py(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side L2 mirroring functions/vector.l2_dist's exact op
    order (left fold of (x−y)², then sqrt) — required for probe
    rankings computed on the driver to agree bit-for-bit with
    engine-side rankings (same signature_of precedent)."""
    s = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        s += d * d
    return math.sqrt(s)


def batch_ivf_topk(
    emb: DataFrame,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stride: int = IVF_CENTROID_STRIDE,
    nprobe: int = IVF_NPROBE,
    round_to: int | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Batched multi-query IVF top-k — the serving-amortization shape
    (dense/sparse/PQ batch paths; the reference batches its feedback
    searches through FAISS's query matrix the same way —
    /root/reference/utils/faiss_processing.py:307-314) applied to the
    inverted lists:
    `queries` is the request batch [(query_id, qvec), ...]
    (driver-sized, like FAISS's query matrix). Each query's nprobe
    cells are elected on the DRIVER against the collected centroid
    model (model state × request — both tiny; `_l2_py` keeps the
    election bit-identical to the engine), the UNION of probed cids
    becomes ONE static `cid IN (...)` pruning predicate over the
    cid-partitioned assignment table, the (query_id, cid) probe pairs
    restrict each query to its own cells, the request-sized query-
    vector table broadcasts onto the candidates for exact-cosine
    scoring, and per-query top-k is a window partial sort
    (WindowGroupLimit pushes the limit map-side). Net: the whole batch
    pays ONE pruned scan of |union of cells|, not |batch| scans.

    Returns (query_id, id, score), k rows per query, descending."""
    spark = emb.sparkSession
    cent = [
        (int(r["cid"]), [float(x) for x in r["__cv"]])
        for r in centroids(emb, id_col, vec_col, stride).collect()
    ]
    probe_pairs = []
    for qid, qv in queries:
        ranked = sorted(cent, key=lambda c: (_l2_py(c[1], qv), c[0]))
        probe_pairs.extend((qid, cid) for cid, _ in ranked[:nprobe])
    all_cids = sorted({cid for _, cid in probe_pairs})
    probe_df = tables.local_frame(spark, probe_pairs, "query_id INT, cid BIGINT")
    qdf = tables.local_frame(
        spark,
        [(qid, [float(x) for x in qv]) for qid, qv in queries],
        "query_id INT, __qv ARRAY<DOUBLE>",
    )
    if assign is None:
        _, assign = ivf_assign(emb, id_col, vec_col, stride)
    pruned = assign.filter(F.col("cid").isin([int(c) for c in all_cids]))
    cand = pruned.join(F.broadcast(probe_df), "cid")
    if vec_col not in cand.columns:
        cand = cand.join(emb.select(id_col, vec_col), id_col)
    score = cosine_sim(vec_col, "__qv")
    if round_to is not None:
        score = det_round(score, round_to)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.join(F.broadcast(qdf), "query_id")
        .select("query_id", F.col(id_col), score.alias("score"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.desc("score"), F.asc(id_col))
    )


def pq_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    ks: int = PQ_KS,
    stride: int = PQ_STRIDE,
) -> DataFrame:
    """(m, code, cv) — the PQ codebook, read via a pushed-down id
    filter (ks rows of one column) and exploded into M sub-slices.
    Always broadcast-sized: M·KS rows of dim/M doubles."""
    dsub = dim // m
    train = emb.filter(
        (F.col(id_col) % stride == 0) & (F.col(id_col) < ks * stride)
    ).select(
        F.floor(F.col(id_col) / stride).cast("int").alias("code"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    slices = [
        F.struct(
            F.lit(i).alias("m"),
            F.slice("__v", i * dsub + 1, dsub).alias("cv"),
        )
        for i in range(m)
    ]
    return train.select("code", F.explode(F.array(*slices)).alias("e")).select(
        "e.m", "code", "e.cv"
    )


def pq_codes(
    vec_col: str | Column,
    books: dict[int, list[tuple[int, Sequence[float]]]],
    dim: int,
    squared: bool = True,
) -> Column:
    """The per-sub-space PQ argmin — the one encode kernel behind
    pq_encode and kmeans.train_lloyd_pq, evaluated per Arrow batch in
    NumPy: returns ARRAY<INT> of the M sub-space codes, code m being
    argmin over (rank(sub_m, cv), code) of sub-space m's book.

    Identity argument (the signature_bits/kmeans.assign_cid family):
    `(x−c)` and its square are single IEEE ops; the distance fold is
    np.cumsum(sq)[:, -1] — the sequential left fold DuckDB's
    list_distance evaluates (all addends are squares ≥ +0.0, so the
    seed difference cannot even flip a zero's sign); np.sqrt is
    correctly rounded on both engines; `squared` ranks d·d — sqrt THEN
    square, replicating the stride oracle's `list_distance *
    list_distance` spelling ulp-for-ulp rather than skipping the sqrt
    (`squared=False` is the trained oracle's plain list_distance);
    codes are scanned in ascending order with a STRICT `<` update —
    the oracle's ORDER BY rank, code. tests/test_ann.py pins equality
    against DuckDB on real data, under planted ties, and at the
    trained d=768 geometry.

    Why a batch kernel: as Catalyst expressions the argmin is corpus ×
    M × KS × dsub × 2 interpreted lambda dispatches (~10⁹ at the
    width×scale cross: 20k rows × 16 × 32 × 48) — minutes of CPU the
    Arrow batch does in one vectorized pass."""
    m_count = len(books)
    dsub = dim // m_count if m_count else 0
    mats, code_ids = [], []
    for mi in range(m_count):
        ordered = sorted(books[mi], key=lambda t: int(t[0]))
        mats.append(
            np.asarray([[float(x) for x in cv] for _, cv in ordered], dtype=np.float64)
        )
        code_ids.append(np.asarray([int(c) for c, _ in ordered], dtype=np.int32))

    def _exact_rank(xrow: np.ndarray, c: np.ndarray) -> float:
        diff = xrow - c
        d = float(np.sqrt(np.cumsum(diff * diff)[-1]))
        return d * d if squared else d

    @F.pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        # GEMM prefilter + exact re-rank of margin candidates, the
        # kmeans.assign_cid pattern (see its docstring for the error
        # bound): the per-code fold loop touched n·KS·dsub doubles per
        # subspace; the matmul prefilter touches n·KS. Monotonicity of
        # x² and sqrt on nonnegatives makes the squared/plain rank
        # spellings share the same prefilter; the exact pass replicates
        # the requested spelling ulp-for-ulp for the tied few.
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(v.to_numpy()).astype(np.float64)
        out = np.empty((x.shape[0], m_count), dtype=np.int32)
        for mi in range(m_count):
            sub = x[:, mi * dsub : (mi + 1) * dsub]
            cmat = mats[mi]
            cids = code_ids[mi]
            xx = np.einsum("ij,ij->i", sub, sub)
            cc = np.einsum("ij,ij->i", cmat, cmat)
            g = xx[:, None] + cc[None, :] - 2.0 * (sub @ cmat.T)
            margin = 1e-10 * (xx + float(cc.max()) + 1.0)
            cand_mask = g <= (g.min(axis=1) + margin)[:, None]
            n_cand = cand_mask.sum(axis=1)
            best_c = np.empty(sub.shape[0], dtype=np.int32)
            single = n_cand == 1
            if single.any():
                best_c[single] = cids[np.argmax(cand_mask[single], axis=1)]
            for i in np.flatnonzero(~single):
                js = np.flatnonzero(cand_mask[i])
                if js.size == 0:
                    # non-finite sub-vector: no candidate survives the
                    # GEMM prefilter (NaN comparisons are all False) —
                    # exact fold over every code; strict `<` never
                    # fires on NaN, keeping the lowest code — the
                    # (rank, code) order under NaN-is-largest.
                    js = np.arange(cmat.shape[0])
                br, bc = np.inf, int(cids[js[0]])
                for j in js:  # ascending code order (cids sorted)
                    r = _exact_rank(sub[i], cmat[j])
                    if r < br:
                        br, bc = r, int(cids[j])
                best_c[i] = bc
            out[:, mi] = best_c
        return pd.Series([row.tolist() for row in out])

    return _enc(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def pq_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_M,
    ks: int = PQ_KS,
    stride: int = PQ_STRIDE,
    codebook: DataFrame | None = None,
    squared: bool = True,
) -> DataFrame:
    """PQ BUILD job (FAISS `IndexPQ.add`): encode every vector as M
    sub-space codes → one WIDE row (id, c0..c{M-1}). Persist this
    (index_store.pq_codes) and the query path never touches the
    vectors again — M bytes per vector at rest.

    Plan: the (m, code, cv) codebook is broadcast-sized by construction
    (M·KS rows of dim/M doubles), so it is collected once into the
    `pq_codes` kernel's closure and the encode is ONE narrow projection
    over the corpus — no join, no shuffle, no window.

    `codebook` overrides the default stride-sampled codebook with any
    (m, code, cv) table — e.g. the Lloyd-trained one from
    operators/kmeans.py. `squared=False` ranks by the unsquared
    distance (kmeans.train_lloyd_pq / the trained oracle's ORDER BY
    list_distance); the default squared ranking matches the stride
    oracle. Same argmin either way except ulp-level ties — the rank
    spelling just has to MATCH the oracle's."""
    if codebook is None:
        codebook = pq_codebook(emb, id_col, vec_col, dim, m, ks, stride)
    books: dict[int, list[tuple[int, list[float]]]] = {}
    for r in codebook.collect():
        books.setdefault(int(r["m"]), []).append(
            (int(r["code"]), [float(x) for x in r["cv"]])
        )
    codes = pq_codes(F.col(vec_col).cast("array<double>"), books, dim, squared=squared)
    return (
        ensure_min_partitions(emb)
        .select(F.col(id_col), codes.alias("__codes"))
        .select(id_col, *[F.col("__codes").getItem(i).alias(f"c{i}") for i in range(m)])
    )


def ann_pq_adc_topk(
    emb: DataFrame,
    codes: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    m: int = PQ_M,
    ks: int = PQ_KS,
    stride: int = PQ_STRIDE,
    round_to: int | None = None,
    codebook: DataFrame | None = None,
    literal_lut: bool = False,
) -> DataFrame:
    """PQ QUERY path (FAISS `IndexPQ.search`): asymmetric distance —
    approx ||q - x||² = Σ_m ||q_m - cb[m, code_m(x)]||² — computed
    entirely from the code table. The per-sub-space lookup tables are
    KS-row broadcast DataFrames derived in-plan from the codebook, so
    the executed plan is: narrow scan of (id, c0..c{M-1}) + M
    broadcast hash joins (map-side, zero shuffle) + a projection sum +
    TakeOrderedAndProject — no vector is read at query time. Returns
    (id, approx_dist) ascending.

    literal_lut=True is the serving fast path and exactly what FAISS
    does on a query: the codebook (m·ks rows — driver-sized by
    construction, like the SQ8 bounds) is collected ONCE, the M×KS
    distance LUT is computed on the driver with the identical
    left-to-right double arithmetic the in-plan expression uses
    (fold (x−y)², sqrt, square — bit-equal results), and scoring
    becomes `element_at(<literal array>, code+1)` sums: ONE narrow
    scan of the code table, zero joins, zero extra jobs. Requires an
    explicit `codebook` (a persisted trained table); the in-plan
    derivation path keeps the joins so the untrained/ad-hoc flow
    stays collect-free."""
    import math

    from multi_search_retrival_big_data_spark.functions.vector import l2_dist, lit_vec

    dim = len(query_vec)
    dsub = dim // m
    if literal_lut:
        if codebook is None:
            raise ValueError("literal_lut requires a persisted codebook")
        luts: dict[int, dict[int, list[float]]] = {}
        for r in codebook.collect():
            luts.setdefault(r["m"], {})[r["code"]] = r["cv"]
        score = None
        for i in range(m):
            qsub = [float(x) for x in query_vec[i * dsub : (i + 1) * dsub]]
            lut = luts[i]
            vals = []
            for code in range(len(lut)):
                s = 0.0
                for x, y in zip(lut[code], qsub):
                    s = s + (x - y) * (x - y)
                d = math.sqrt(s)
                vals.append(d * d)
            term = F.element_at(
                F.array(*[F.lit(v) for v in vals]), F.col(f"c{i}") + 1
            )
            score = term if score is None else score + term
        if round_to is not None:
            score = det_round(score, round_to)
        return (
            codes.select(F.col(id_col), score.alias("approx_dist"))
            .orderBy(F.asc("approx_dist"), F.asc(id_col))
            .limit(k)
        )
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(emb, id_col, "embedding", dim, m, ks, stride)
    )
    out = codes
    for i in range(m):
        qsub = lit_vec([float(x) for x in query_vec[i * dsub : (i + 1) * dsub]])
        d = l2_dist("cv", qsub)
        lut = cb.filter(F.col("m") == i).select(
            F.col("code").alias(f"__code{i}"), (d * d).alias(f"__d{i}")
        )
        out = out.join(F.broadcast(lut), out[f"c{i}"] == lut[f"__code{i}"]).drop(
            f"__code{i}"
        )
    score = F.col("__d0")
    for i in range(1, m):
        score = score + F.col(f"__d{i}")  # fixed left-to-right order, oracle-identical
    if round_to is not None:
        score = det_round(score, round_to)
    return (
        out.select(F.col(id_col), score.alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


PQ_RERANK_SHORTLIST = 200


def ann_pq_rerank_topk(
    emb: DataFrame,
    codes: DataFrame,
    query_vec: Sequence[float],
    k: int,
    shortlist: int = PQ_RERANK_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    stride: int = PQ_STRIDE,
    round_to: int | None = None,
    shortlist_round_to: int | None = None,
    codebook: DataFrame | None = None,
    literal_lut: bool = False,
) -> DataFrame:
    """Two-stage PQ serving (the standard ADC deployment shape, FAISS
    `IndexPQ.search` + refine / IndexRefineFlat): stage 1 shortlists
    `shortlist` ids from the code table alone (ann_pq_adc_topk — M-byte
    rows, zero vector IO); stage 2 re-ranks ONLY the shortlist by exact
    L2 against the stored vectors. Returns (id, dist) ascending.

    Scale shape: the shortlist is k-bounded (hundreds of rows), so it
    broadcasts and the exact stage is a broadcast-semi-pruned scan of
    the embeddings — at rest the embeddings table is id-bucketed, so
    the fetch touches |shortlist| bucket rows, not the corpus. Within
    the shortlist the re-rank is exact, so recall@k equals shortlist
    recall — the ann_pq_rerank_recall_grid query measures exactly that
    curve against the exact scan (reference analogue: the exact FAISS
    flat scan, faiss_processing.py:17-22, applied to a candidate set).
    `round_to` rounds the final exact distance; `shortlist_round_to`
    (default: same as round_to) rounds the stage-1 ADC ranking — the
    two are separate because an oracle comparison may need the
    shortlist deterministic but the re-rank raw.
    """
    from multi_search_retrival_big_data_spark.functions.vector import l2_dist

    if shortlist_round_to is None:
        shortlist_round_to = round_to
    short = ann_pq_adc_topk(
        emb,
        codes,
        query_vec,
        k=shortlist,
        id_col=id_col,
        m=m,
        ks=ks,
        stride=stride,
        round_to=shortlist_round_to,
        codebook=codebook,
        literal_lut=literal_lut,
    ).select(id_col)
    d = l2_dist(vec_col, lit_vec(query_vec))
    if round_to is not None:
        d = det_round(d, round_to)
    return (
        emb.join(F.broadcast(short), id_col, "left_semi")
        .select(F.col(id_col), d.alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the combined index (FAISS IndexIVFPQ): coarse-quantize each
# vector to its nearest trained centroid, PQ-encode the RESIDUAL
# (vector − centroid), store (cid, c0..c{M-1}) partitioned by cell.
# A query probes nprobe cells and scores candidates entirely from the
# code table via per-CELL ADC lookup tables built from the residual
# query (q − centroid). This is the at-rest layout that serves
# billion-vector corpora: cells give partition pruning, residual codes
# give ~M bytes/vector, and the two quantizers compose (Jégou et al.
# TPAMI'11 §IV; the reference stays exact-flat,
# faiss_processing.py:17-22).
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2


def ivfpq_residuals(
    emb: DataFrame,
    cents: "list[tuple[int, list[float]]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, r): coarse assignment (kmeans.assign_cid — a narrow
    projection) plus the residual vector. The broadcast join only
    attaches the k·dim centroid table to fetch each row's centroid for
    the subtraction."""
    spark = emb.sparkSession
    cents_df = F.broadcast(
        tables.local_frame(
            spark,
            [(int(c), [float(x) for x in cv]) for c, cv in cents],
            "cid INT, __cv ARRAY<DOUBLE>",
        )
    )
    assigned = emb.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__v"),
        kmeans.assign_cid(vec_col, cents).alias("cid"),
    )
    return assigned.join(cents_df, "cid").select(
        id_col,
        "cid",
        F.zip_with("__v", "__cv", lambda a, b: a - b).alias("r"),
    )


def ann_ivfpq_adc_topk(
    codes: DataFrame,
    cents_table: DataFrame,
    codebook: DataFrame,
    query_vec: Sequence[float],
    k: int,
    nprobe: int = IVFPQ_NPROBE,
    id_col: str = "vec_id",
    m: int = PQ_M,
    round_to: int | None = None,
    literal_lut: bool = False,
    subset: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ QUERY path: probe the nprobe nearest centroids (a scan of
    the k-row centroid table), prune the code table to those cells
    (partition pruning at rest), then ADC with PER-CELL lookup tables —
    each probed cell's LUT is built in-plan from the RESIDUAL query
    (q − centroid) against the broadcast codebook (nprobe·M·KS rows),
    and candidates join their cell's LUT on (cid, code). No vector is
    read at query time; returns (id, approx_dist) ascending.

    literal_lut=True is the serving fast path (exactly FAISS's query
    flow): the centroid table (nlist rows) and codebook (m·ks rows) —
    both driver-sized model state by construction — are collected
    once; probe selection, residual queries and the nprobe·M·KS
    distance LUT are computed on the driver with the identical IEEE
    double arithmetic the in-plan expressions use; scoring becomes a
    STATIC `cid IN (probes)` filter (static partition pruning on the
    cid-partitioned code table — the planner prunes before launch,
    no runtime subquery) plus per-cell when-chained `element_at`
    literal lookups: one narrow scan, zero joins.

    `subset` (an allowed-id DataFrame) makes this the FILTERED IVFPQ
    search: the semi-join applies AFTER the cell prune and BEFORE the
    ADC score, same placement as ann_pq_filtered_topk / the IVF
    subset — every quantized serving path has a filtered mode."""
    import math

    from multi_search_retrival_big_data_spark.functions.vector import l2_dist

    q = lit_vec(query_vec)
    dim = len(query_vec)
    dsub = dim // m
    if literal_lut:
        qd = [float(x) for x in query_vec]

        def _fold_sq(a: Sequence[float], b: Sequence[float]) -> float:
            s = 0.0
            for x, y in zip(a, b):
                s = s + (x - y) * (x - y)
            return s

        cents = {int(r["cid"]): [float(x) for x in r["cv"]] for r in cents_table.collect()}
        ranked = sorted((math.sqrt(_fold_sq(cv, qd)), cid) for cid, cv in cents.items())
        probe_cids = [cid for _d, cid in ranked[:nprobe]]
        books: dict[int, dict[int, list[float]]] = {}
        for r in codebook.collect():
            books.setdefault(r["m"], {})[r["code"]] = [float(x) for x in r["cv"]]
        cell_luts: list[tuple[int, list[list[float]]]] = []
        for cid in probe_cids:
            qr = [a - b for a, b in zip(qd, cents[cid])]
            arrs = []
            for i in range(m):
                sub = qr[i * dsub : (i + 1) * dsub]
                lut = books[i]
                vals = []
                for code in range(len(lut)):
                    d = math.sqrt(_fold_sq(sub, lut[code]))
                    vals.append(d * d)
                arrs.append(vals)
            cell_luts.append((cid, arrs))
        out = _subset_semi_join(
            codes.filter(F.col("cid").isin(probe_cids)), subset, id_col
        )
        score = None
        for i in range(m):
            chain = None
            for cid, arrs in cell_luts:
                t = F.element_at(
                    F.array(*[F.lit(v) for v in arrs[i]]), F.col(f"c{i}") + 1
                )
                cond = F.col("cid") == cid
                chain = F.when(cond, t) if chain is None else chain.when(cond, t)
            score = chain if score is None else score + chain
        if round_to is not None:
            score = det_round(score, round_to)
        return (
            out.select(F.col(id_col), score.alias("approx_dist"))
            .orderBy(F.asc("approx_dist"), F.asc(id_col))
            .limit(k)
        )
    probed = (
        cents_table.select("cid", "cv", l2_dist("cv", q).alias("__d"))
        .orderBy(F.asc("__d"), F.asc("cid"))
        .limit(nprobe)
    )
    qres = probed.select(
        "cid", F.zip_with(q, F.col("cv").cast("array<double>"), lambda a, b: a - b).alias("__qr")
    )
    luts = qres.join(F.broadcast(codebook), F.lit(True))
    out = _subset_semi_join(
        codes.join(F.broadcast(probed.select("cid")), "cid"), subset, id_col
    )
    for i in range(m):
        d = l2_dist(F.slice("__qr", i * dsub + 1, dsub), "cv")
        lut_i = (
            luts.filter(F.col("m") == i)
            .select(
                F.col("cid").alias(f"__cid{i}"),
                F.col("code").alias(f"__code{i}"),
                (d * d).alias(f"__d{i}"),
            )
        )
        out = out.join(
            F.broadcast(lut_i),
            (out["cid"] == lut_i[f"__cid{i}"]) & (out[f"c{i}"] == lut_i[f"__code{i}"]),
        ).drop(f"__cid{i}", f"__code{i}")
    score = F.col("__d0")
    for i in range(1, m):
        score = score + F.col(f"__d{i}")  # fixed fold order, oracle-identical
    if round_to is not None:
        score = det_round(score, round_to)
    return (
        out.select(F.col(id_col), score.alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8) — the fourth compression path (FAISS
# IndexScalarQuantizer QT_8bit): each dimension is affinely mapped to
# one unsigned byte using per-dimension (min, max) trained over the
# corpus; a query scores DEQUANTIZED vectors. Unlike PQ the code
# length is d bytes (not M), but reconstruction is per-dimension exact
# to 1/255 of the range — the standard memory/recall middle ground
# between raw floats and PQ.
# ---------------------------------------------------------------------------


def sq8_train(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """SQ8 TRAIN job: per-dimension (vmin, vmax) over the corpus — one
    posexplode + map-side-combined min/max agg, dim rows out (model
    table, always broadcast-sized)."""
    exploded = emb.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x")
    )
    return exploded.groupBy("dim").agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )


def sq8_encode(
    emb: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 BUILD job: (id, codes ARRAY<INT>) with code_j =
    floor((x_j - vmin_j) / (vmax_j - vmin_j) * 255 + 0.5) clamped to
    [0, 255] — pure IEEE ops, so the DuckDB oracle encodes
    identically. The bounds table is collected to a literal array
    (model state, dim rows) so the encode is a single projection."""
    b = sorted(
        ((int(r["dim"]), float(r["vmin"]), float(r["vmax"])) for r in bounds.collect())
    )
    vmin = F.array(*[F.lit(x[1]) for x in b])
    scale = F.array(
        *[F.lit(255.0 / (x[2] - x[1]) if x[2] > x[1] else 0.0) for x in b]
    )
    v = F.col(vec_col).cast("array<double>")
    codes = F.zip_with(
        F.zip_with(v, vmin, lambda x, lo: x - lo),
        scale,
        lambda d, s: F.greatest(
            F.lit(0), F.least(F.lit(255), F.floor(d * s + F.lit(0.5)).cast("int"))
        ),
    )
    return emb.select(F.col(id_col), codes.alias("codes"))


def ann_sq8_topk(
    codes: DataFrame,
    bounds: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    subset: DataFrame | None = None,
) -> DataFrame:
    """SQ8 QUERY path: dequantize each code row in-plan (x̂_j = vmin_j
    + code_j · (vmax_j − vmin_j)/255) and rank by exact L2 to the
    query over the RECONSTRUCTIONS — a scan of the byte table plus a
    projection; no float vector is read. Returns (id, approx_dist)
    ascending (FAISS IndexScalarQuantizer.search).

    `subset` (an allowed-id DataFrame) makes this the FILTERED SQ8
    search: the semi-join applies BEFORE the dequantize-and-rank
    projection, so only allowed byte rows are ever reconstructed —
    with the code table bucketed by id (index_store.sq8 layout) the
    semi-join is shuffle-free."""
    from multi_search_retrival_big_data_spark.functions.vector import l2_dist

    codes = _subset_semi_join(codes, subset, id_col)
    b = sorted(
        ((int(r["dim"]), float(r["vmin"]), float(r["vmax"])) for r in bounds.collect())
    )
    vmin = F.array(*[F.lit(x[1]) for x in b])
    step = F.array(*[F.lit((x[2] - x[1]) / 255.0) for x in b])
    recon = F.zip_with(
        F.zip_with(F.col("codes"), step, lambda c, s: c.cast("double") * s),
        vmin,
        lambda d, lo: d + lo,
    )
    d = l2_dist(recon, lit_vec(query_vec))
    if round_to is not None:
        d = det_round(d, round_to)
    return (
        codes.select(F.col(id_col), d.alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


def batch_pq_adc_topk(
    emb: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    m: int = PQ_M,
    ks: int = PQ_KS,
    stride: int = PQ_STRIDE,
    round_to: int | None = None,
    codebook: DataFrame | None = None,
    literal_lut: bool = False,
) -> DataFrame:
    """Batched multi-query PQ/ADC top-k — the serving-amortization
    shape (like dense.batch_topk_cosine / sparse.batch_tfidf_score)
    applied to the code table: ALL queries' sub-space lookup tables are
    built in one broadcast (|queries|·M·KS rows — request-sized ×
    model-sized), the M-byte code table is scanned ONCE for the whole
    batch, and the per-query top-k is a window partial sort. Returns
    (query_id, id, approx_dist), k rows per query, ascending.

    `queries` is (query_id, qvec). FAISS batches exactly this way —
    IndexPQ.search takes a query MATRIX and reuses the scan
    (faiss_processing.py:307-314 batches its feedback searches).

    literal_lut=True: the batch variant of the serving fast path —
    codebook AND query batch (both driver-sized: model state and the
    request) are collected once, each query's LUT becomes literal
    element_at arrays, and one code-table scan explodes an
    array-of-structs into (query_id, approx_dist) rows: zero joins,
    no |codes|×|batch| pre-scoring cross join, same window top-k."""
    import math

    from pyspark.sql.window import Window

    from multi_search_retrival_big_data_spark.functions.vector import l2_dist

    qid, qvec = queries.columns[0], queries.columns[1]
    if literal_lut:
        if codebook is None:
            raise ValueError("literal_lut requires a persisted codebook")
        books: dict[int, dict[int, list[float]]] = {}
        for r in codebook.collect():
            books.setdefault(r["m"], {})[r["code"]] = [float(x) for x in r["cv"]]
        structs = []
        for r in queries.collect():
            qv = [float(x) for x in r[qvec]]
            dsub = len(qv) // m
            score = None
            for i in range(m):
                sub = qv[i * dsub : (i + 1) * dsub]
                lut = books[i]
                vals = []
                for code in range(len(lut)):
                    s = 0.0
                    for x, y in zip(sub, lut[code]):
                        s = s + (x - y) * (x - y)
                    d = math.sqrt(s)
                    vals.append(d * d)
                term = F.element_at(
                    F.array(*[F.lit(v) for v in vals]), F.col(f"c{i}") + 1
                )
                score = term if score is None else score + term
            if round_to is not None:
                score = det_round(score, round_to)
            structs.append(
                F.struct(
                    F.lit(r[qid]).alias("query_id"), score.alias("approx_dist")
                )
            )
        scored = codes.select(
            F.col(id_col), F.explode(F.array(*structs)).alias("__s")
        ).select("__s.query_id", id_col, "__s.approx_dist")
        w = Window.partitionBy("query_id").orderBy(
            F.asc("approx_dist"), F.asc(id_col)
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
            .orderBy("query_id", F.asc("approx_dist"), F.asc(id_col))
        )
    cb = (
        codebook
        if codebook is not None
        else pq_codebook(emb, id_col, "embedding", 64, m, ks, stride)
    )
    dsub_expr = F.size(F.col("cv"))  # sub-centroid length = dim/M
    # per-(query, m, code) LUT: slice the query at m·dsub+1 in-plan
    d = l2_dist(
        F.slice(
            F.col(qvec).cast("array<double>"),
            F.col("m") * dsub_expr + F.lit(1),
            dsub_expr,
        ),
        "cv",
    )
    luts = (
        queries.crossJoin(cb)
        .select(F.col(qid).alias("query_id"), "m", "code", (d * d).alias("__d"))
    )
    out = codes.crossJoin(F.broadcast(queries.select(F.col(qid).alias("query_id"))))
    for i in range(m):
        lut_i = luts.filter(F.col("m") == i).select(
            F.col("query_id").alias(f"__q{i}"),
            F.col("code").alias(f"__code{i}"),
            F.col("__d").alias(f"__d{i}"),
        )
        out = out.join(
            F.broadcast(lut_i),
            (out["query_id"] == lut_i[f"__q{i}"]) & (out[f"c{i}"] == lut_i[f"__code{i}"]),
        ).drop(f"__q{i}", f"__code{i}")
    score = F.col("__d0")
    for i in range(1, m):
        score = score + F.col(f"__d{i}")  # fixed fold order, oracle-identical
    if round_to is not None:
        score = det_round(score, round_to)
    scored = out.select("query_id", F.col(id_col), score.alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", F.asc("approx_dist"), F.asc(id_col))
    )
