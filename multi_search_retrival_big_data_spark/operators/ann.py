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
shuffle). LSH has one banding and one probe: `banded_signatures` cuts
the signature into (id, band, bval) rows with dedup.band_cut, and
`band_probe` turns the request's query vectors into probe rows and
one static `band = b AND bval IN (…)` predicate (Hamming radius 0 or
1). On the (band, bval)-partitioned index (index_store.emb_lsh_bands)
that predicate is a planning-time partition prune; without a
persisted banding the scorers band the corpus in the plan through the
same function and filter it with the same predicate. The final exact
rank touches only candidates (TakeOrderedAndProject top-k). The same
banding powers embedding near-duplicate *pair* mining without an
all-pairs cross join.

The IVF inverted lists carry their vectors (`ivf_assign` returns
(id, vector, cid)), so an IVF scorer ranks the probed cells where it
reads them and never re-joins the corpus.

The IVF, PQ and IVF-PQ paths (FAISS IndexIVFFlat / IndexPQ /
IndexIVFPQ) share two driver-side steps over model state, each spelled
once: `elect_cells` collects the centroid table and picks every
query's nprobe cells, which the plan reads through a static
`cid IN (…)` partition filter, and `adc_luts` collects the codebook
and computes every ADC lookup table, which the plan reads as literal
`element_at` arrays. Both replicate `functions/vector.l2_dist` op for
op (`_l2`), so a probe set or a table entry is bit-equal to the
oracles' `list_distance` spellings. No scoring plan joins a lookup
table or sorts the centroids.
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
from multi_search_retrival_big_data_spark.operators import dedup, dense, kmeans
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


def band_probe(
    queries: Sequence[tuple[int, Sequence[float]]],
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
    radius: int = 0,
) -> tuple[list[tuple[int, int, str]], Column]:
    """The package's one LSH probe, for every LSH scorer, grid and
    bench count: the request's query vectors [(query_id, qvec)] →
    ((query_id, band, bval) probe rows, predicate). Each query's
    signature is computed in the driver (`signature_of`); band b
    probes the query's own value at `radius` 0, and it plus its
    Hamming-1 flips (`multiprobe_values`) at `radius` 1.

    The predicate is the static `band = b AND bval IN (…)` disjunction
    over the union of the probes, so on the (band, bval)-partitioned
    banding (index_store.emb_lsh_bands) the planner prunes to the
    probed partitions before the job starts — bands·(1 + radius·rows)
    of the bands·2^rows partitions per query, never the corpus. An
    empty request probes nothing (a false predicate)."""
    if radius not in (0, 1):
        raise ValueError(f"radius must be 0 or 1, got {radius}")
    rows = num_planes // bands
    planes = hyperplanes(len(queries[0][1]), num_planes) if queries else []
    probes = []
    for qid, qv in queries:
        for b, qband in query_bands(signature_of(qv, planes), bands, rows):
            vals = multiprobe_values(qband) if radius else [qband]
            probes.extend((qid, b, v) for v in vals)
    by_band: dict[int, set[str]] = {}
    for _, b, v in probes:
        by_band.setdefault(b, set()).add(v)
    terms = [
        (F.col("band") == b) & F.col("bval").isin(sorted(vals))
        for b, vals in sorted(by_band.items())
    ]
    cond = terms[0] if terms else F.lit(False)
    for t in terms[1:]:
        cond = cond | t
    return probes, cond


def banded_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_planes: int = NUM_PLANES,
    bands: int = ANN_BANDS,
) -> DataFrame:
    """LSH BUILD job: (id, band, bval) — one row per (vector, band),
    the `signature_bits` string cut by dedup.band_cut. Persist
    PARTITIONED BY (band, bval) (index_store.emb_lsh_bands) and a
    query's band probe (`band_probe`) becomes partition pruning: it
    reads `bands` of the `bands × 2^rows` partitions, never the
    corpus. The scorers band the corpus in the plan through this same
    function when no persisted banding is given."""
    sig = signature_bits(vec_col, hyperplanes(dim, num_planes))
    return dedup.band_cut(emb, sig, bands, num_planes // bands, carry=(id_col,))


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
    radius: int = 0,
) -> DataFrame:
    """ANN top-k: keep rows sharing ≥1 signature band with the query
    at Hamming distance ≤ `radius`, rank candidates by exact cosine.
    Returns (id, score) — a strict subset of the exact scan's
    candidate set, identical ranking within it.

    `radius=1` is MULTI-PROBE LSH (Lv et al., VLDB'07): each band
    probes its own bucket plus the `rows` Hamming-1 flips
    (`multiprobe_values`) — recall comparable to several extra hash
    tables at the cost of probing bands·(rows+1) buckets of the SAME
    index; at 100 TB that is the difference between widening the
    at-rest banding table (rows × corpus) and touching a few more
    partitions per query.

    `banded` is the precomputed (id, band, bval) table
    (index_store.emb_lsh_bands): candidate selection is then a
    partition-pruned read of the probed buckets (`band_probe`'s static
    predicate) + a semi-join — the per-query signature pass over the
    corpus disappears from the plan. Without it the corpus is banded
    in the plan by `banded_signatures` (self-contained mode), and the
    same predicate filters those rows.

    `subset` (an allowed-id DataFrame) makes this the FILTERED LSH
    search: the semi-join applies AFTER the bucket probe and BEFORE
    the exact-cosine rank — pre-filter semantics inside the probed
    buckets, same placement as every other filtered serving path."""
    _check_k(k)
    _, probe = band_probe([(0, query_vec)], num_planes, bands, radius)
    if banded is None:
        emb = ensure_min_partitions(emb)  # one signature per row: CPU-bound
        banded = banded_signatures(
            emb, id_col, vec_col, len(query_vec), num_planes, bands
        )
    cand = dense.restrict_ids(
        banded.filter(probe).select(id_col).distinct(), subset, id_col
    )
    return dense.topk_cosine(
        emb.join(cand, id_col, "left_semi"),
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
    pattern). The served branch is `ann_lsh_topk`, which re-reads the
    pruned buckets rather than persisting the candidate set: the probe
    read touches only `bands` partitions (cheap by construction),
    while a per-request `.persist()` pins executor storage with no
    in-function release point (the returned plan is lazy), which under
    concurrent serving accumulates one cache entry per query — the
    leak, not the re-read, is what hurts a serving tier. Both branches
    rank by the identical det-rounded cosine, so the router changes
    WHICH rows are scored, never how. An empty banding falls back to
    the exact scan."""
    _check_k(k)
    _, probe = band_probe([(0, query_vec)], num_planes, bands)
    n_cand = banded.filter(probe).select(id_col).distinct().count()
    if n_cand < min_candidates:
        return dense.topk_cosine(emb, query_vec, k, id_col, vec_col, round_to=round_to)
    return ann_lsh_topk(
        emb, query_vec, k, id_col, vec_col, num_planes, bands,
        round_to=round_to, banded=banded,
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
    (dedup.lsh_candidate_pairs on (band, bval) — one exchange on the
    band key, no cross join), verified by dense.cosine_pairs. `banded`
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
        id_pairs = dedup.lsh_candidate_pairs(banded, id_col, keys=("band", "bval"))
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
    real IVF shape). Returns (centroids, lists(id, vector, cid)): the
    inverted lists carry their vectors, as FAISS IndexIVFFlat stores
    them, so a scorer ranks a probed cell straight from its rows.

    This is NOT the query path: persist the lists cid-partitioned
    (index_store.ivf_assignments) and pass the stored table to
    `ann_ivf_topk(assign=...)`, which then only probes and prunes. The
    |N|/stride centroids are collected to the driver
    (kmeans.stride_init) and the assignment is `kmeans.assign_cid` — a
    narrow projection, one corpus pass at build time, no join, no
    shuffle, zero work at query time. cid takes the id column's type."""
    cents = kmeans.stride_init(emb, id_col, vec_col, stride)
    id_type = dict(emb.dtypes)[id_col]
    lists = emb.select(
        F.col(id_col),
        F.col(vec_col),
        kmeans.assign_cid(vec_col, cents).cast(id_type).alias("cid"),
    )
    return centroids(emb, id_col, vec_col, stride), lists


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


def _check_k(k: int) -> None:
    """The ANN scorers' check of k, made before any Spark job."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")


def _check_lists(assign: DataFrame | None, vec_col: str) -> None:
    """The IVF scorers rank the vectors co-located in the inverted
    lists; an `assign` table without them raises, before any job."""
    if assign is not None and vec_col not in assign.columns:
        raise ValueError(
            f"assign has no {vec_col!r} column: the IVF scorers rank the "
            "vectors stored in the inverted lists (ann.ivf_assign)"
        )


def _l2(a: Sequence[float], b: Sequence[float]) -> float:
    """functions/vector.l2_dist in the driver, op for op: a left fold
    of (x−y)² from 0.0, then sqrt. Python floats are IEEE doubles, so
    a distance computed here is bit-equal to the engine's and to
    DuckDB's `list_distance` (the signature_of precedent). Callers
    check that the widths agree."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + (x - y) * (x - y)
    return math.sqrt(s)


def elect_cells(
    cents: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    nprobe: int,
    vec_col: str = "cv",
) -> tuple[dict[int, list[float]], list[list[int]]]:
    """The one IVF probe election, for every IVF and IVF-PQ scorer:
    collect the (cid, `vec_col`) centroid table — nlist rows of model
    state, driver-sized by construction — and rank its cells for each
    query by (l2 to the query, cid), NaN distances last as Spark's and
    DuckDB's sorts put them; the first `nprobe` are the query's cells.
    Returns ({cid: centroid}, [cids per query]).

    The scorers turn the cids into a static `cid IN (…)` filter, which
    the planner prunes to the probed partitions of the cid-partitioned
    index before the job starts — no runtime subquery, no sort of the
    centroid table in the plan. A query whose width differs from the
    centroids' raises ValueError."""
    model = {int(r["cid"]): [float(x) for x in r[vec_col]] for r in cents.collect()}
    widths = {len(cv) for cv in model.values()}
    elected = []
    for qv in query_vecs:
        q = [float(x) for x in qv]
        if widths - {len(q)}:
            raise ValueError(
                f"query dim {len(q)} does not match centroid dim {min(widths)}"
            )
        rank = {}
        for cid, cv in model.items():
            d = _l2(cv, q)
            rank[cid] = (True, 0.0, cid) if math.isnan(d) else (False, d, cid)
        elected.append(sorted(model, key=rank.__getitem__)[:nprobe])
    return model, elected


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
    """IVF-flat ANN QUERY path: elect the `nprobe` centroids nearest
    the query in the driver (`elect_cells`), prune to their inverted
    lists with a static `cid IN (…)` filter, rank the cell union by
    exact cosine — the FAISS IndexIVFFlat search dataflow.

    `assign` is the precomputed, cid-partitioned inverted-list table
    (index_store.ivf_assignments); the executed plan then contains NO
    quantizer-assignment recompute and no join — only the statically
    pruned partitions of the index. The lists carry their vectors (the
    (vec_id, embedding, cid) layout `ivf_assign` returns and
    index_store persists — FAISS stores vectors inside the inverted
    lists), so the exact-cosine rank reads them straight from the
    nprobe pruned partitions: the query touches nprobe/nlist of the
    index and NOTHING else. An `assign` without the vector column
    raises a ValueError before any job. When omitted, the lists are
    computed inline (audit/self-contained mode — a full
    corpus×centroids pass per query, never the serving shape).

    `subset` (an allowed-id DataFrame) makes this the FILTERED IVF
    search: the semi-join applies AFTER the cell prune and BEFORE the
    cosine kernel, so the plan reads nprobe/nlist of the index and
    ranks only the allowed rows inside those cells — pre-filter
    semantics within the probed shortlist, same placement as
    ann_pq_filtered_topk's prune. At 100 TB the filter column belongs
    IN the assignment table (predicate pushdown into the pruned
    partitions, no join)."""
    _check_k(k)
    _check_lists(assign, vec_col)
    _, (probe,) = elect_cells(
        centroids(emb, id_col, vec_col, stride), [query_vec], nprobe, "__cv"
    )
    if assign is None:
        _, assign = ivf_assign(ensure_min_partitions(emb), id_col, vec_col, stride)
    cand = dense.restrict_ids(assign.filter(F.col("cid").isin(probe)), subset, id_col)
    return dense.topk_cosine(cand, query_vec, k, id_col, vec_col, round_to=round_to)


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
    FAISS query-matrix search) applied to the banding table:
    `band_probe` turns the request's queries into (query_id, band,
    bval) probe rows in the driver, the UNION of all probed keys is
    ONE static partition-pruning predicate over the persisted banding
    (or over the corpus banded in the plan when `banded` is None), the
    request-sized probe table tags which candidates belong to which
    query, vectors join back once for the whole batch, and per-query
    top-k is a window partial sort. The banding is read ONCE for the
    batch — |union of buckets| partitions, not |batch| × |buckets|.

    Returns (query_id, id, score), k rows per query, descending; an
    empty batch returns no rows."""
    _check_k(k)
    spark = emb.sparkSession
    probes, probe = band_probe(queries, num_planes, bands)
    probe_df = tables.local_frame(spark, probes, "query_id INT, band INT, bval STRING")
    if banded is None:
        dim = len(queries[0][1]) if queries else 0  # nothing probes an empty batch
        banded = banded_signatures(emb, id_col, vec_col, dim, num_planes, bands)
    cand = (
        banded.filter(probe)
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
    scored = (
        cand.join(emb.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", F.col(id_col), score.alias("score"))
    )
    return _per_query_topk(scored, k, F.desc("score"), F.asc(id_col))


def _per_query_topk(scored: DataFrame, k: int, *order: Column) -> DataFrame:
    """The batched scorers' per-query top-k: a row_number window per
    query_id (WindowGroupLimit pushes the limit map-side), rows
    ordered by query then `order`."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
        .orderBy("query_id", *order)
    )


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
    model (model state × request — both tiny; `elect_cells`, the
    election every IVF scorer uses), the UNION of probed cids
    becomes ONE static `cid IN (...)` pruning predicate over the
    cid-partitioned inverted lists, the (query_id, cid) probe pairs
    restrict each query to its own cells, the lists' co-located
    vectors are ranked where they are read, the request-sized query-
    vector table broadcasts onto the candidates for exact-cosine
    scoring, and per-query top-k is a window partial sort
    (WindowGroupLimit pushes the limit map-side). Net: the whole batch
    pays ONE pruned scan of |union of cells|, not |batch| scans.

    Returns (query_id, id, score), k rows per query, descending."""
    _check_k(k)
    _check_lists(assign, vec_col)
    spark = emb.sparkSession
    _, elected = elect_cells(
        centroids(emb, id_col, vec_col, stride), [qv for _, qv in queries], nprobe, "__cv"
    )
    probe_pairs = [
        (qid, cid) for (qid, _), cids in zip(queries, elected) for cid in cids
    ]
    all_cids = sorted({cid for _, cid in probe_pairs})
    probe_df = tables.local_frame(spark, probe_pairs, "query_id INT, cid BIGINT")
    qdf = tables.local_frame(
        spark,
        [(qid, [float(x) for x in qv]) for qid, qv in queries],
        "query_id INT, __qv ARRAY<DOUBLE>",
    )
    if assign is None:
        _, assign = ivf_assign(emb, id_col, vec_col, stride)
    cand = assign.filter(F.col("cid").isin(all_cids)).join(F.broadcast(probe_df), "cid")
    score = cosine_sim(vec_col, "__qv")
    if round_to is not None:
        score = det_round(score, round_to)
    scored = cand.join(F.broadcast(qdf), "query_id").select(
        "query_id", F.col(id_col), score.alias("score")
    )
    return _per_query_topk(scored, k, F.desc("score"), F.asc(id_col))


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


def adc_luts(
    codebook: DataFrame, query_vecs: Sequence[Sequence[float]]
) -> list[list[list[float]]]:
    """The one ADC lookup-table builder, for every PQ and IVF-PQ scorer:
    collect the (m, code, cv) codebook — M·KS rows of model state,
    driver-sized by construction — read M and the sub-space width from
    it, and return per query the M tables of KS entries
    `||q_m − cv[m, code]||²`, each the oracles' `list_distance *
    list_distance` (`_l2`, then square). `_adc_distance` reads them
    as literal `element_at` arrays, so a scoring plan is one narrow
    scan of the code table: no join, no extra job per query.

    A query whose width differs from the codebook's M·dsub raises
    ValueError, and so does a codebook whose sub-spaces are not
    0..M−1 or whose codes are not 0..KS−1: a gap in the codes (a
    stride id missing from the corpus) would shift the `element_at`
    index onto the wrong codeword."""
    books: dict[int, dict[int, list[float]]] = {}
    for r in codebook.collect():
        books.setdefault(int(r["m"]), {})[int(r["code"])] = [float(x) for x in r["cv"]]
    subs = [books.get(i, {}) for i in range(len(books))]
    if any(sorted(b) != list(range(len(b))) or not b for b in subs):
        raise ValueError("codebook must hold sub-spaces 0..M-1 with codes 0..KS-1")
    dsub = len(subs[0][0]) if subs else 0
    luts = []
    for qv in query_vecs:
        q = [float(x) for x in qv]
        if len(q) != len(subs) * dsub:
            raise ValueError(
                f"query dim {len(q)} does not match codebook dim {len(subs) * dsub}"
            )
        lut = []
        for i, b in enumerate(subs):
            sub = q[i * dsub : (i + 1) * dsub]
            dists = [_l2(b[c], sub) for c in range(len(b))]
            lut.append([d * d for d in dists])
        luts.append(lut)
    return luts


def _adc_distance(lut: list[list[float]]) -> Column:
    """One query's approximate distance over the wide code row
    (c0..c{M-1}): Σ_m element_at(<LUT_m literal>, c_m + 1), summed
    left to right like the oracles' `l0.d + l1.d + …`."""
    score = None
    for i, vals in enumerate(lut):
        term = F.element_at(F.array(*[F.lit(v) for v in vals]), F.col(f"c{i}") + 1)
        score = term if score is None else score + term
    return score


def _adc_topk(
    codes: DataFrame, dist: Column, k: int, id_col: str, round_to: int | None
) -> DataFrame:
    """(id, approx_dist), the k smallest, ties by id."""
    if round_to is not None:
        dist = det_round(dist, round_to)
    return (
        codes.select(F.col(id_col), dist.alias("approx_dist"))
        .orderBy(F.asc("approx_dist"), F.asc(id_col))
        .limit(k)
    )


def ann_pq_adc_topk(
    emb: DataFrame,
    codes: DataFrame,
    query_vec: Sequence[float],
    k: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """PQ QUERY path (FAISS `IndexPQ.search`): asymmetric distance —
    approx ||q - x||² = Σ_m ||q_m - cb[m, code_m(x)]||² — computed
    entirely from the code table. The lookup tables come from
    `adc_luts` (one collect of the codebook, the tables computed in the
    driver, exactly FAISS's query flow), so the executed plan is one
    narrow scan of (id, c0..c{M-1}) + a projection of literal
    `element_at` sums + TakeOrderedAndProject — no join, no shuffle,
    no vector read. Returns (id, approx_dist) ascending.

    `codebook` is the (m, code, cv) table the codes were encoded with
    (e.g. a persisted trained one); None means the stride codebook of
    `emb` (pq_codebook at the query's width)."""
    _check_k(k)
    if codebook is None:
        codebook = pq_codebook(emb, id_col, dim=len(query_vec))
    (lut,) = adc_luts(codebook, [query_vec])
    return _adc_topk(codes, _adc_distance(lut), k, id_col, round_to)


PQ_RERANK_SHORTLIST = 200


def ann_pq_rerank_topk(
    emb: DataFrame,
    codes: DataFrame,
    query_vec: Sequence[float],
    k: int,
    shortlist: int = PQ_RERANK_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
    shortlist_round_to: int | None = None,
    codebook: DataFrame | None = None,
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

    _check_k(k)
    if shortlist_round_to is None:
        shortlist_round_to = round_to
    short = ann_pq_adc_topk(
        emb, codes, query_vec, shortlist, id_col, shortlist_round_to, codebook
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
    round_to: int | None = None,
    subset: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ QUERY path (FAISS IndexIVFPQ.search): `elect_cells` picks
    the nprobe nearest centroids from the collected centroid table,
    `adc_luts` builds each probed cell's lookup tables from the
    RESIDUAL query (q − centroid) against the collected codebook, and
    the plan is one narrow scan of the code table pruned by a STATIC
    `cid IN (probes)` partition filter (the planner prunes before
    launch, no runtime subquery), scored by a per-cell CASE over the
    cells' literal `element_at` sums — no join, no vector read.
    Returns (id, approx_dist) ascending.

    `subset` (an allowed-id DataFrame) makes this the FILTERED IVFPQ
    search: the semi-join applies AFTER the cell prune and BEFORE the
    ADC score, same placement as ann_pq_filtered_topk / the IVF
    subset — every quantized serving path has a filtered mode."""
    _check_k(k)
    model, (probe,) = elect_cells(cents_table, [query_vec], nprobe)
    q = [float(x) for x in query_vec]
    luts = adc_luts(codebook, [[a - b for a, b in zip(q, model[c])] for c in probe])
    dist = F.lit(None).cast("double")
    for cid, lut in zip(probe, luts):
        dist = F.when(F.col("cid") == cid, _adc_distance(lut)).otherwise(dist)
    cells = dense.restrict_ids(codes.filter(F.col("cid").isin(probe)), subset, id_col)
    return _adc_topk(cells, dist, k, id_col, round_to)


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

    codes = dense.restrict_ids(codes, subset, id_col)
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
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int,
    id_col: str = "vec_id",
    round_to: int | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Batched multi-query PQ/ADC top-k — the serving-amortization
    shape (like dense.batch_topk_cosine / sparse.batch_tfidf_score)
    applied to the code table. `queries` is the request batch
    [(query_id, qvec), ...] (driver-sized, like FAISS's query matrix —
    IndexPQ.search takes a matrix and reuses the scan;
    faiss_processing.py:307-314 batches its feedback searches).

    `adc_luts` builds every query's lookup tables from one collect of
    the codebook; ONE scan of the M-byte code table explodes an
    array of (query_id, approx_dist) structs per row — no join, no
    |codes|×|batch| cross join — and the per-query top-k is a window
    partial sort. `codebook=None` means the stride codebook of `emb`.
    Returns (query_id, id, approx_dist), k rows per query, ascending."""
    _check_k(k)
    if codebook is None:
        codebook = pq_codebook(emb, id_col, dim=len(queries[0][1]))
    luts = adc_luts(codebook, [qv for _, qv in queries])
    structs = []
    for (qid, _), lut in zip(queries, luts):
        dist = _adc_distance(lut)
        if round_to is not None:
            dist = det_round(dist, round_to)
        structs.append(F.struct(F.lit(qid).alias("query_id"), dist.alias("approx_dist")))
    scored = codes.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("__s")
    ).select("__s.query_id", id_col, "__s.approx_dist")
    return _per_query_topk(scored, k, F.asc("approx_dist"), F.asc(id_col))
