from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import ann, dense
from multi_search_retrival_big_data_spark.queries.common import EMB_DIM, QUERY_VEC


def test_hyperplanes_deterministic_and_pm1():
    p1 = ann.hyperplanes(8, 4)
    p2 = ann.hyperplanes(8, 4)
    assert p1 == p2
    assert all(v in (1.0, -1.0) for plane in p1 for v in plane)


@pytest.mark.slow
def test_engine_signature_matches_python(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir).limit(20)
    planes = ann.hyperplanes(EMB_DIM, ann.NUM_PLANES)
    rows = emb.select(
        "vec_id", "embedding", ann.signature_bits("embedding", planes).alias("sig")
    ).collect()
    for r in rows:
        assert r["sig"] == ann.signature_of(r["embedding"], planes)


def test_ann_topk_subset_of_exact_with_same_scores(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    exact = {
        r["vec_id"]: r["score"]
        for r in dense.topk_cosine(emb, QUERY_VEC, k=1000, round_to=6).collect()
    }
    approx = ann.ann_lsh_topk(emb, QUERY_VEC, k=20, round_to=6).collect()
    assert len(approx) > 0
    for r in approx:
        assert math.isclose(exact[r["vec_id"]], r["score"], abs_tol=1e-9)


@pytest.mark.slow
def test_near_dup_lsh_subset_of_exact(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    t = 0.3
    exact = {
        (r["id_a"], r["id_b"])
        for r in ann.embedding_near_dup_pairs(emb, t, use_lsh=False, round_to=6).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in ann.embedding_near_dup_pairs(emb, t, dim=EMB_DIM, use_lsh=True, round_to=6).collect()
    }
    assert lsh <= exact


@pytest.mark.slow
def test_identical_vectors_always_collide(spark):
    # identical vectors share every band → LSH near-dup must find them
    base = [math.sin(i) for i in range(8)]
    rows = [(1, base), (2, base), (3, [-v for v in base])]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = ann.embedding_near_dup_pairs(emb, 0.99, dim=8, use_lsh=True, round_to=6)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert pairs == {(1, 2)}


def test_ivf_topk_subset_of_exact_with_same_scores(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    exact = {
        r["vec_id"]: r["score"]
        for r in dense.topk_cosine(emb, QUERY_VEC, k=1000, round_to=6).collect()
    }
    approx = ann.ann_ivf_topk(emb, QUERY_VEC, k=20, round_to=6).collect()
    assert len(approx) > 0
    for r in approx:
        assert math.isclose(exact[r["vec_id"]], r["score"], abs_tol=1e-9)


def test_ivf_assignment_is_nearest_centroid(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir).limit(50)
    cent, assign = ann.ivf_assign(emb)
    cents = {r["cid"]: r["__cv"] for r in cent.collect()}
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    got = {r["vec_id"]: r["cid"] for r in assign.collect()}
    for vid, vec in vecs.items():
        dists = {
            cid: sum((float(a) - float(b)) ** 2 for a, b in zip(vec, cv))
            for cid, cv in cents.items()
        }
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert got[vid] == best


def test_recall_at_k_query_shape_and_bounds(spark, sf_dir):
    from multi_search_retrival_big_data_spark.queries.ann_queries import ann_recall_at_k

    rows = {r.method: r for r in ann_recall_at_k(spark, sf_dir).collect()}
    assert set(rows) == {"lsh", "ivf"}
    for r in rows.values():
        assert r.k == 50
        assert 0 <= r.hits <= r.k
        assert abs(r.recall - r.hits / 50.0) < 1e-12


def test_near_dup_pairs_match_catalyst_cosine(spark, sf_dir):
    """The LSH near-dup verify (dense.cosine_pairs) keeps exactly the
    band-candidate pairs whose in-test Catalyst det_round(cosine_sim)
    reaches the threshold, with the same bits — rounded and raw."""
    from multi_search_retrival_big_data_spark.functions.rounding import det_round
    from multi_search_retrival_big_data_spark.functions.vector import cosine_sim

    emb = tables.load(spark, "embeddings", sf_dir)
    banded = ann.banded_signatures(emb, dim=EMB_DIM)
    a = banded.select(F.col("vec_id").alias("id_a"), "band", "bval")
    b = banded.select(F.col("vec_id").alias("id_b"), "band", "bval")
    cand = (
        a.join(b, ["band", "bval"]).filter("id_a < id_b").select("id_a", "id_b").distinct()
    )
    vecs = cand.join(
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")), "id_a"
    ).join(emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")), "id_b")
    for round_to in (6, None):
        score = cosine_sim("va", "vb")
        if round_to is not None:
            score = det_round(score, round_to)
        want = {
            (r.id_a, r.id_b): r.c
            for r in vecs.select("id_a", "id_b", score.alias("c")).collect()
            if r.c is not None and r.c >= 0.45
        }
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in ann.embedding_near_dup_pairs(
                emb, 0.45, dim=EMB_DIM, use_lsh=True, round_to=round_to
            ).collect()
        }
        assert want and got == want, round_to


@pytest.mark.slow
def test_lsh_recall_grid_monotone_in_bands(spark, sf_dir):
    """More, shorter bands probe more buckets: candidate volume and
    recall are non-decreasing in the band count."""
    from multi_search_retrival_big_data_spark.queries.ann_queries import (
        ann_lsh_recall_grid,
    )

    rows = ann_lsh_recall_grid(spark, sf_dir).collect()
    assert [r.bands for r in rows] == [2, 4, 8]
    cands = [r.candidates for r in rows]
    recalls = [r.recall for r in rows]
    assert cands == sorted(cands)
    assert recalls == sorted(recalls)


def test_ivf_query_plan_has_no_quantizer_recompute(spark, sf_dir):
    """With precomputed inverted lists the executed query plan must
    not re-run the coarse-quantizer assignment (corpus × centroids
    argmin = a per-vec_id row_number window). The only windows/joins
    allowed are the nprobe probe + pruned candidate join."""
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann

    emb = tables.load(spark, "embeddings", sf_dir)
    assign = index_store.ivf_assignments(spark, sf_dir)
    df = ann.ann_ivf_topk(emb, [0.1] * 64, k=10, round_to=6, assign=assign)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan
    assert "msrbd_ivf" in plan  # reads the stored assignment table


def test_ivf_stored_matches_inline(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann

    emb = tables.load(spark, "embeddings", sf_dir)
    assign = index_store.ivf_assignments(spark, sf_dir)
    q = [0.3] * 32 + [-0.2] * 32
    a = ann.ann_ivf_topk(emb, q, k=20, round_to=6).collect()
    b = ann.ann_ivf_topk(emb, q, k=20, round_to=6, assign=assign).collect()
    assert [(r["vec_id"], r["score"]) for r in a] == [(r["vec_id"], r["score"]) for r in b]


def test_pq_encode_wide_schema_and_code_range(spark, sf_dir):
    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import ann

    emb = tables.load(spark, "embeddings", sf_dir)
    codes = ann.pq_encode(emb)
    assert codes.columns == ["vec_id"] + [f"c{i}" for i in range(ann.PQ_M)]
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        for i in range(ann.PQ_M):
            assert 0 <= r[f"c{i}"] < ann.PQ_KS


def test_pq_training_vectors_encode_to_own_codes(spark, sf_dir):
    """A training vector's sub-slices are at distance 0 from their own
    codebook entry, so vector j*stride must encode to code j in every
    sub-space."""
    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import ann
    from pyspark.sql import functions as F

    emb = tables.load(spark, "embeddings", sf_dir)
    codes = ann.pq_encode(emb).filter(
        (F.col("vec_id") % ann.PQ_STRIDE == 0)
        & (F.col("vec_id") < ann.PQ_KS * ann.PQ_STRIDE)
    )
    for r in codes.collect():
        j = r["vec_id"] // ann.PQ_STRIDE
        assert all(r[f"c{i}"] == j for i in range(ann.PQ_M)), r


def test_pq_adc_no_shuffle_and_reads_code_table(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

    emb = tables.load(spark, "embeddings", sf_dir)
    codes = index_store.pq_codes(spark, sf_dir)
    df = ann.ann_pq_adc_topk(emb, codes, QUERY_VEC, k=10, round_to=6)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "msrbd_pq" in plan           # reads the persisted code table
    assert "BroadcastHashJoin" in plan  # LUTs arrive by broadcast
    # the only acceptable exchange is the broadcast itself — no
    # hash-partition shuffle anywhere in the ADC path
    assert "hashpartitioning" not in plan


def test_ivfpq_residuals_reconstruct(spark):
    from multi_search_retrival_big_data_spark.operators import ann as _ann

    rows = [(i, [float(i), float(-i), 1.0, 0.5]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    cents = [(0, [0.0, 0.0, 1.0, 0.5]), (10, [10.0, -10.0, 1.0, 0.5])]
    res = _ann.ivfpq_residuals(emb, cents)
    got = {r["vec_id"]: (r["cid"], r["r"]) for r in res.collect()}
    cent = dict(cents)
    for i, v in rows:
        cid, r = got[i]
        # centroid + residual reconstructs the vector exactly
        rec = [c + x for c, x in zip(cent[cid], r)]
        assert rec == v, (i, cid, rec, v)


def test_ivfpq_adc_candidates_come_from_probed_cells(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import ann as _ann
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

    cents_t, book_t, codes_t = index_store.ivfpq(spark, sf_dir)
    out = _ann.ann_ivfpq_adc_topk(
        codes_t, cents_t, book_t, QUERY_VEC, k=500, nprobe=2, round_to=6
    )
    from multi_search_retrival_big_data_spark.functions.vector import l2_dist, lit_vec
    from pyspark.sql import functions as F

    probed = {
        r["cid"]
        for r in cents_t.select(
            "cid", l2_dist("cv", lit_vec(QUERY_VEC)).alias("d")
        )
        .orderBy("d", "cid")
        .limit(2)
        .collect()
    }
    member_cids = {
        r["cid"]
        for r in codes_t.join(out.select("vec_id"), "vec_id", "left_semi")
        .select("cid")
        .distinct()
        .collect()
    }
    assert member_cids <= probed
    assert out.count() > 0


def test_sq8_roundtrip_error_bounded(spark):
    from multi_search_retrival_big_data_spark.operators import ann as _ann
    from pyspark.sql import functions as F

    rows = [(i, [(-1) ** i * (i / 7.0), 0.25 * i, -3.0 + i]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    bounds = _ann.sq8_train(emb, dim=3)
    codes = _ann.sq8_encode(emb, bounds)
    b = {int(r["dim"]): (r["vmin"], r["vmax"]) for r in bounds.collect()}
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    for i, v in rows:
        for j, x in enumerate(v):
            lo, hi = b[j]
            code = got[i][j]
            assert 0 <= code <= 255
            recon = lo + code * (hi - lo) / 255.0
            # reconstruction error bounded by half a quantization step
            assert abs(recon - x) <= (hi - lo) / 255.0 / 2 + 1e-12


def test_batch_pq_adc_matches_single_query(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.operators import ann as _ann
    from multi_search_retrival_big_data_spark.queries.common import (
        QUERY_VEC,
        QUERY_VEC_B,
    )
    from multi_search_retrival_big_data_spark import tables as _tables

    emb = _tables.load(spark, "embeddings", sf_dir)
    codes = index_store.pq_codes(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in QUERY_VEC]), (1, [float(x) for x in QUERY_VEC_B])],
        "query_id INT, qvec ARRAY<DOUBLE>",
    )
    batch = _ann.batch_pq_adc_topk(emb, codes, qdf, k=10, round_to=6).collect()
    for qi, qv in ((0, QUERY_VEC), (1, QUERY_VEC_B)):
        single = _ann.ann_pq_adc_topk(emb, codes, qv, k=10, round_to=6).collect()
        got = [(r["vec_id"], r["approx_dist"]) for r in batch if r["query_id"] == qi]
        assert got == [(r["vec_id"], r["approx_dist"]) for r in single]


@pytest.mark.slow
def test_literal_lut_matches_join_path(spark, sf_dir):
    """The serving fast path (driver-collected codebook -> literal
    element_at LUTs, zero joins) must reproduce the join-LUT plan's
    output bit-for-bit — the LUT entries are computed with the same
    left-to-right double arithmetic as the in-plan expression."""
    from multi_search_retrival_big_data_spark import index_store

    book, codes = index_store.pq_trained(spark, sf_dir, iters=2)
    emb = tables.load(spark, "embeddings", sf_dir)
    kw = dict(k=20, shortlist=60, m=ann.PQT_M, round_to=None, codebook=book)
    joins = ann.ann_pq_rerank_topk(emb, codes, QUERY_VEC, **kw).collect()
    lits = ann.ann_pq_rerank_topk(
        emb, codes, QUERY_VEC, literal_lut=True, **kw
    ).collect()
    assert [(r["vec_id"], r["dist"]) for r in lits] == [
        (r["vec_id"], r["dist"]) for r in joins
    ]
    # zero joins in the fast path's shortlist stage
    plan = (
        ann.ann_pq_adc_topk(
            emb, codes, QUERY_VEC, k=60, m=ann.PQT_M,
            codebook=book, literal_lut=True,
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_literal_lut_requires_codebook(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    with pytest.raises(ValueError, match="persisted codebook"):
        ann.ann_pq_adc_topk(emb, emb, QUERY_VEC, k=5, literal_lut=True)


def test_ivfpq_literal_lut_matches_join_path(spark, sf_dir):
    """The IVFPQ serving fast path (driver-side probe selection +
    per-cell literal LUTs + static cid IN partition filter) must
    reproduce the join-LUT plan's output bit-for-bit."""
    from multi_search_retrival_big_data_spark import index_store

    cents_t, book_t, codes_t = index_store.ivfpq(spark, sf_dir, iters=2)
    kw = dict(k=30, nprobe=2, round_to=None)
    joins = ann.ann_ivfpq_adc_topk(
        codes_t, cents_t, book_t, QUERY_VEC, **kw
    ).collect()
    lits_df = ann.ann_ivfpq_adc_topk(
        codes_t, cents_t, book_t, QUERY_VEC, literal_lut=True, **kw
    )
    lits = lits_df.collect()
    assert [(r["vec_id"], r["approx_dist"]) for r in lits] == [
        (r["vec_id"], r["approx_dist"]) for r in joins
    ]
    plan = lits_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "PartitionFilters: [cid" in plan  # static prune, no runtime subquery


def test_batch_literal_lut_matches_join_path(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.queries.common import (
        QUERY_VEC_B,
    )

    codes = index_store.pq_codes(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in QUERY_VEC]), (1, [float(x) for x in QUERY_VEC_B])],
        "query_id INT, qvec ARRAY<DOUBLE>",
    )
    kw = dict(k=15, round_to=None)
    joins = ann.batch_pq_adc_topk(emb, codes, qdf, **kw).collect()
    lits_df = ann.batch_pq_adc_topk(
        emb, codes, qdf, codebook=ann.pq_codebook(emb), literal_lut=True, **kw
    )
    lits = lits_df.collect()
    key = lambda r: (r["query_id"], r["vec_id"], r["approx_dist"])  # noqa: E731
    assert [key(r) for r in lits] == [key(r) for r in joins]
    plan = lits_df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_multiprobe_values_hamming1():
    from multi_search_retrival_big_data_spark.operators import ann

    vals = ann.multiprobe_values("0110")
    assert vals[0] == "0110"
    assert sorted(vals[1:]) == sorted(["1110", "0010", "0100", "0111"])
    assert len(set(vals)) == 5


def test_multiprobe_candidates_superset_of_plain(spark, sf_dir):
    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

    emb = tables.load(spark, "embeddings", sf_dir)
    plain = ann.ann_lsh_topk(emb, QUERY_VEC, k=1000, round_to=6)
    multi = ann.ann_lsh_multiprobe_topk(emb, QUERY_VEC, k=1000, round_to=6)
    p = {r["vec_id"] for r in plain.collect()}
    m = {r["vec_id"] for r in multi.collect()}
    assert p <= m  # Hamming-0 buckets are in the Hamming-<=1 probe set


def test_batch_ivf_matches_per_query_path(spark, sf_dir):
    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import (
        QUERY_VEC,
        QUERY_VEC_B,
    )

    emb = tables.load(spark, "embeddings", sf_dir)
    batch = ann.batch_ivf_topk(
        emb, [(0, QUERY_VEC), (1, QUERY_VEC_B)], k=20, round_to=6
    ).collect()
    for qid, qv in [(0, QUERY_VEC), (1, QUERY_VEC_B)]:
        single = ann.ann_ivf_topk(emb, qv, k=20, round_to=6).collect()
        got = [(r["vec_id"], r["score"]) for r in batch if r["query_id"] == qid]
        want = [(r["vec_id"], r["score"]) for r in single]
        assert got == want


def test_filtered_lsh_subset_and_prefix(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC
    from pyspark.sql import functions as F

    emb = tables.load(spark, "embeddings", sf_dir)
    banded = index_store.emb_lsh_bands(spark, sf_dir)
    allowed = emb.filter(F.col("label") % 3 == 0).select("vec_id")
    out = ann.ann_lsh_topk(
        emb, QUERY_VEC, k=50, round_to=6, banded=banded, subset=allowed
    ).collect()
    allow = {r["vec_id"] for r in allowed.collect()}
    assert out and all(r["vec_id"] in allow for r in out)
    # filtered result = unfiltered candidates ∩ allowed, re-ranked
    full = ann.ann_lsh_topk(
        emb, QUERY_VEC, k=10**6, round_to=6, banded=banded
    ).collect()
    want = [
        (r["vec_id"], r["score"]) for r in full if r["vec_id"] in allow
    ][:50]
    assert [(r["vec_id"], r["score"]) for r in out] == want


def test_batch_lsh_matches_per_query_path(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import (
        QUERY_VEC,
        QUERY_VEC_B,
    )

    emb = tables.load(spark, "embeddings", sf_dir)
    banded = index_store.emb_lsh_bands(spark, sf_dir)
    batch = ann.batch_lsh_topk(
        emb, [(0, QUERY_VEC), (1, QUERY_VEC_B)], k=20, round_to=6, banded=banded
    ).collect()
    for qid, qv in [(0, QUERY_VEC), (1, QUERY_VEC_B)]:
        single = ann.ann_lsh_topk(emb, qv, k=20, round_to=6, banded=banded).collect()
        got = [(r["vec_id"], r["score"]) for r in batch if r["query_id"] == qid]
        want = [(r["vec_id"], r["score"]) for r in single]
        assert got == want


def test_cascade_router_branches(spark):
    from multi_search_retrival_big_data_spark.operators import ann
    from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

    import math
    emb = spark.createDataFrame(
        [(i, [math.sin(i * 0.7 + j) for j in range(64)]) for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    banded = ann.banded_signatures(emb)
    lo = ann.ann_cascade_topk(emb, QUERY_VEC, 5, banded, min_candidates=1, round_to=6)
    hi = ann.ann_cascade_topk(emb, QUERY_VEC, 5, banded, min_candidates=10_000, round_to=6)
    lsh_rows = lo.collect()
    hi_rows = hi.collect()
    # fallback branch == the exact scan top-k (independent recompute)
    from multi_search_retrival_big_data_spark.operators import dense

    exact = dense.topk_cosine(emb, QUERY_VEC, k=5, round_to=6).collect()
    assert [(r.vec_id, r.score) for r in hi_rows] == [
        (r.vec_id, r.score) for r in exact
    ]
    # pruned branch serves only bucket candidates, ranked by the SAME
    # det-rounded cosine — scores agree wherever ids overlap
    assert 0 < len(lsh_rows) <= 5
    hi_scores = {r.vec_id: r.score for r in hi_rows}
    for r in lsh_rows:
        if r.vec_id in hi_scores:
            assert r.score == hi_scores[r.vec_id]


def _duck_rows(sql: str, **tables_: tuple[list[int], list[list[float]]]) -> list:
    """Run `sql` in DuckDB over (vec_id BIGINT, v DOUBLE[]) tables given
    as (ids, vectors) — the reference the registry oracles use, so the
    kernels are checked against an engine outside the program."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    for name, (ids, vecs) in tables_.items():
        con.register(
            name,
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "v": pa.array(vecs, pa.list_(pa.float64())),
                }
            ),
        )
    return con.execute(sql).fetchall()


def _duck_signatures(ids, vecs, planes) -> dict[int, str]:
    """The oracles' `list_dot_product(v, plane) >= 0` sign spelling."""
    rows = _duck_rows(
        """SELECT e.vec_id,
                  string_agg(CASE WHEN list_dot_product(e.v, pl.v) >= 0
                                  THEN '1' ELSE '0' END, '' ORDER BY pl.vec_id)
           FROM e, pl GROUP BY e.vec_id""",
        e=(ids, vecs),
        pl=(list(range(len(planes))), [list(p) for p in planes]),
    )
    return dict(rows)


def _duck_pq_codes(ids, vecs, book_rows, m_count, dsub, squared) -> dict[int, tuple]:
    """The oracles' per-sub-space `ORDER BY list_distance, code` argmin
    (squared: list_distance * list_distance, the stride oracle)."""
    out: dict[int, list[int]] = {i: [] for i in ids}
    for mi in range(m_count):
        book = [(code, cv) for bm, code, cv in book_rows if bm == mi]
        d = f"list_distance(e.v[{mi * dsub + 1}:{(mi + 1) * dsub}], c.v)"
        rank = f"({d} * {d})" if squared else d
        rows = _duck_rows(
            f"""SELECT vec_id, code FROM (
                  SELECT e.vec_id, c.vec_id AS code, row_number() OVER (
                    PARTITION BY e.vec_id ORDER BY {rank} ASC, c.vec_id ASC) AS rn
                  FROM e, c) WHERE rn = 1""",
            e=(ids, vecs),
            c=([code for code, _ in book], [cv for _, cv in book]),
        )
        for vid, code in rows:
            out[vid].append(code)
    return {vid: tuple(codes) for vid, codes in out.items()}


def _ids_vecs(df) -> tuple[list[int], list[list[float]]]:
    rows = df.select("vec_id", "embedding").collect()
    return [int(r[0]) for r in rows], [[float(x) for x in r[1]] for r in rows]


def test_signature_bits_matches_duckdb_sign(spark):
    """d=64 signatures, including rows whose plane dots are exactly 0
    (the integer-valued corpus makes ties likely), equal the oracles'
    list_dot_product sign."""
    emb = spark.createDataFrame(
        [(i, [((i * 7 + j * 13) % 19 - 9) / 4.0 for j in range(EMB_DIM)])
         for i in range(40)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    planes = ann.hyperplanes(EMB_DIM, ann.NUM_PLANES)
    got = {
        r.vec_id: r.s
        for r in emb.select(
            "vec_id", ann.signature_bits("embedding", planes).alias("s")
        ).collect()
    }
    assert got == _duck_signatures(*_ids_vecs(emb), planes)


def test_signature_bits_rejects_non_sign_planes(spark):
    with pytest.raises(ValueError, match="±1"):
        ann.signature_bits("embedding", [[0.5, -1.0]])


# ---- corpus-derived nlist retrain policy -------------------------------


def test_ivf_nlist_policy_values():
    from multi_search_retrival_big_data_spark.operators import ann

    assert ann.ivf_nlist(1) == 1
    assert ann.ivf_nlist(62) == 1
    assert ann.ivf_nlist(63) == 2
    assert ann.ivf_nlist(620_000) == 10_000
    # expected cell population stays ~= target at any corpus size
    for n in (1_000, 50_000, 2_000_000):
        nlist = ann.ivf_nlist(n)
        assert n / nlist <= ann.IVF_TARGET_CELL
        assert n / nlist > ann.IVF_TARGET_CELL / 2


def test_ivf_retrain_arms_cells_stay_flat(spark, sf_dir):
    from pyspark.sql import functions as F

    from multi_search_retrival_big_data_spark import index_store

    fa, ra, grown = index_store.ivf_retrain_arms(spark, sf_dir, growth=4)
    assert grown.count() == 4 * 500
    fmax = fa.groupBy("cid").count().agg(F.max("count")).collect()[0][0]
    rmax = ra.groupBy("cid").count().agg(F.max("count")).collect()[0][0]
    fcells = fa.select("cid").distinct().count()
    rcells = ra.select("cid").distinct().count()
    # retrained nlist scales with the grown corpus; frozen stays at the
    # build-time count, so its cells hold ~growth x the members
    assert rcells > fcells
    assert rmax < fmax


def test_signature_bits_arrow_bit_identical_at_width(spark, sf_dir):
    """The Arrow signature kernel at the production geometry (48 planes
    × d=768) produces EXACTLY DuckDB's list_dot_product sign bits — the
    identity argument in ann.signature_bits, pinned on real data."""
    wide = dense.expand_to_dim(
        tables.load(spark, "embeddings", sf_dir).limit(40), out_dim=768, in_dim=EMB_DIM
    )
    planes = ann.hyperplanes(768, 48)
    got = {
        r.vec_id: r.s
        for r in wide.select(
            "vec_id", ann.signature_bits("embedding", planes).alias("s")
        ).collect()
    }
    assert len(got) == 40
    assert got == _duck_signatures(*_ids_vecs(wide), planes)


def _literal_argmin(cents):
    """In-test reference argmin: array_min over (l2_dist, cid) structs
    of functions.vector folds — the oracle's ORDER BY list_distance,
    cid as a Spark expression."""
    from multi_search_retrival_big_data_spark.functions.vector import l2_dist, lit_vec

    return F.array_min(
        F.array(
            *[
                F.struct(
                    l2_dist("embedding", lit_vec(cv)).alias("d"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cv in cents
            ]
        )
    ).getField("cid")


def test_assign_cid_arrow_bit_identical_at_width(spark, sf_dir):
    """kmeans.assign_cid vs the in-test literal-struct argmin on real
    d=768 vectors: same cid for every row (distance folds, sqrt, and
    the (d, cid) tiebreak all bit-equal)."""
    from multi_search_retrival_big_data_spark.operators import kmeans

    wide = dense.expand_to_dim(
        tables.load(spark, "embeddings", sf_dir).limit(40), out_dim=768, in_dim=EMB_DIM
    )
    cents = kmeans.stride_init(wide, stride=7)  # several d=768 centroids
    got = wide.select(
        "vec_id",
        _literal_argmin(cents).alias("lit_cid"),
        kmeans.assign_cid("embedding", cents).alias("arrow_cid"),
    ).collect()
    assert len(got) == 40
    for r in got:
        assert r["lit_cid"] == r["arrow_cid"], f"vec {r['vec_id']}"


def test_assign_cid_arrow_bit_identical_under_ties(spark, sf_dir):
    """Adversarial tie geometry for the GEMM-prefilter argmin: the
    centroid set contains EXACT DUPLICATES (a planted viral cell's
    shape — stride_init can sample two near-identical vectors) and a
    centroid equal to a data row (distance exactly 0). The prefilter's
    margin must surface every tied candidate and the exact re-rank
    must keep the LOWEST cid, matching the in-test literal argmin."""
    from multi_search_retrival_big_data_spark.operators import kmeans

    emb = tables.load(spark, "embeddings", sf_dir).limit(60)
    rows = emb.select("embedding").limit(3).collect()
    v0 = [float(x) for x in rows[0]["embedding"]]
    v1 = [float(x) for x in rows[1]["embedding"]]
    # cids deliberately non-contiguous; centroid 7 duplicates 3, and 3
    # equals a real data row (zero distance, tie between cid 3 and 7)
    cents = [(3, v0), (5, v1), (7, list(v0)), (11, [x + 1e-13 for x in v0])]
    got = emb.select(
        "vec_id",
        _literal_argmin(cents).alias("lit_cid"),
        kmeans.assign_cid("embedding", cents).alias("arrow_cid"),
    ).collect()
    assert len(got) == 60
    for r in got:
        assert r["lit_cid"] == r["arrow_cid"], f"vec {r['vec_id']}"


def _pq_codes_by_id(codes_df, m_count) -> dict[int, tuple]:
    return {
        int(r["vec_id"]): tuple(int(r[f"c{i}"]) for i in range(m_count))
        for r in codes_df.collect()
    }


@pytest.mark.slow
def test_pq_codes_arrow_bit_identical_at_width(spark, sf_dir):
    """pq_encode vs DuckDB's per-sub-space ORDER BY list_distance, code
    at the trained d=768 geometry (M=16, KS=32, dsub=48), BOTH rank
    spellings — squared (d·d after sqrt, the stride oracle's) and
    unsquared (the trainer's)."""
    wide = dense.expand_to_dim(
        tables.load(spark, "embeddings", sf_dir).limit(30), out_dim=768, in_dim=EMB_DIM
    )
    from multi_search_retrival_big_data_spark.operators import kmeans

    init = kmeans.pq_stride_init(wide, dim=768, m=ann.PQT_M, ks=ann.PQT_KS, stride=1)
    book_rows = [
        (int(mi), int(code), [float(x) for x in cv])
        for mi, book in sorted(init.items())
        for code, cv in book
    ]
    cb = tables.local_frame(spark, book_rows, "m INT, code INT, cv ARRAY<DOUBLE>")
    ids, vecs = _ids_vecs(wide)
    for squared in (True, False):
        got = _pq_codes_by_id(
            ann.pq_encode(
                wide, dim=768, m=ann.PQT_M, ks=ann.PQT_KS, codebook=cb, squared=squared
            ),
            ann.PQT_M,
        )
        want = _duck_pq_codes(ids, vecs, book_rows, ann.PQT_M, 768 // ann.PQT_M, squared)
        assert got == want, f"squared={squared}: pq_encode != DuckDB"


def test_pq_codes_arrow_bit_identical_under_ties(spark, sf_dir):
    """GEMM-prefilter tie handling in pq_codes: codebooks with EXACT
    DUPLICATE codewords (and one codeword equal to a data sub-vector →
    zero distance) must keep the LOWEST code, matching DuckDB's ORDER
    BY list_distance, code, for BOTH rank spellings."""
    emb = tables.load(spark, "embeddings", sf_dir).limit(40)
    m_count, dsub = 4, EMB_DIM // 4
    row = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    book_rows = []
    for mi in range(m_count):
        sub = row[mi * dsub : (mi + 1) * dsub]
        book_rows += [
            (mi, 0, [x + 0.5 for x in sub]),
            (mi, 1, list(sub)),       # equals a real sub-vector
            (mi, 2, list(sub)),       # exact duplicate of code 1
            (mi, 3, [x + 1e-13 for x in sub]),
        ]
    cb = tables.local_frame(spark, book_rows, "m INT, code INT, cv ARRAY<DOUBLE>")
    ids, vecs = _ids_vecs(emb)
    for squared in (True, False):
        got = _pq_codes_by_id(
            ann.pq_encode(
                emb, dim=EMB_DIM, m=m_count, ks=4, codebook=cb, squared=squared
            ),
            m_count,
        )
        want = _duck_pq_codes(ids, vecs, book_rows, m_count, dsub, squared)
        assert got == want, f"squared={squared}: pq_encode != DuckDB under ties"


@pytest.mark.parametrize("dim", [EMB_DIM, 768])
def test_vector_kernels_plan_one_arrow_node_at_every_width(spark, dim):
    """assign_cid, signature_bits and pq_encode have ONE implementation
    each: at the oracle-gate width and at the production width their
    physical plans evaluate the same Arrow batch node (no size-gated
    Catalyst literal form below some k·dim)."""
    from multi_search_retrival_big_data_spark.operators import kmeans

    emb = tables.local_frame(
        spark,
        [(i, [float((i * 7 + j) % 5) for j in range(dim)]) for i in range(4)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cents = [(0, [0.0] * dim), (1, [1.0] * dim)]
    m, ks = 8, 2
    cb = tables.local_frame(
        spark,
        [(mi, c, [float(c)] * (dim // m)) for mi in range(m) for c in range(ks)],
        "m INT, code INT, cv ARRAY<DOUBLE>",
    )
    frames = {
        "assign_cid": emb.select(kmeans.assign_cid("embedding", cents).alias("cid")),
        "signature_bits": emb.select(
            ann.signature_bits("embedding", ann.hyperplanes(dim, 16)).alias("s")
        ),
        "pq_encode": ann.pq_encode(emb, dim=dim, m=m, ks=ks, codebook=cb),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, f"{name} at d={dim}:\n{plan}"


def test_ann_ranks_match_catalyst_cosine_at_768(spark, sf_dir):
    """At the production width the pruned ANN ranks score through the
    one cosine kernel: every LSH hit carries the in-test Catalyst
    det_round(cosine_sim) bits in (score DESC, id ASC) order, and the
    cascade's exact-scan fallback returns the Catalyst top-k itself."""
    from multi_search_retrival_big_data_spark.encoders import dim_expand_encode
    from multi_search_retrival_big_data_spark.functions.rounding import det_round
    from multi_search_retrival_big_data_spark.functions.vector import cosine_sim, lit_vec

    emb = tables.load(spark, "embeddings", sf_dir)
    wide = dense.expand_to_dim(emb, out_dim=768, in_dim=64)
    qv = dim_expand_encode(QUERY_VEC, 64, 768)
    want = (
        wide.select(
            "vec_id", det_round(cosine_sim("embedding", lit_vec(qv)), 6).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .collect()
    )
    exact = {r.vec_id: r.score for r in want}
    lsh = [(r.vec_id, r.score) for r in ann.ann_lsh_topk(wide, qv, k=25, round_to=6).collect()]
    assert lsh and all(exact[i] == sc for i, sc in lsh)
    assert lsh == sorted(lsh, key=lambda r: (-r[1], r[0]))
    banded = ann.banded_signatures(wide, dim=768)
    casc = ann.ann_cascade_topk(wide, qv, 25, banded, min_candidates=10**9, round_to=6)
    assert [(r.vec_id, r.score) for r in casc.collect()] == [
        (r.vec_id, r.score) for r in want[:25]
    ]


def test_literal_query_ranks_plan_one_map_in_pandas_node(spark, sf_dir):
    """At the oracle-gate width (d=64) the exact scan and the pruned LSH,
    IVF and cascade ranks all execute the Arrow cosine kernel — there
    is no Catalyst rank below a width gate."""
    from multi_search_retrival_big_data_spark.queries import load_registry

    reg = load_registry()
    for name in (
        "dense_topk_cosine",
        "ann_lsh_topk_cosine",
        "ann_ivf_topk_cosine",
        "ann_cascade_topk_pruned",
    ):
        plan = reg[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, f"{name}:\n{plan}"


def test_argmin_arrow_nonfinite_row_keeps_lowest_id(spark):
    """A NaN/Inf embedding makes every GEMM-prefilter comparison False;
    the kernels must fall back to the exact fold over all
    centroids/codes (lowest id under NaN — ORDER BY d, id with
    NaN-is-largest) instead of raising IndexError. Checked at d=8 and
    at a wide d=1300 geometry: one kernel serves both."""
    from multi_search_retrival_big_data_spark.operators import kmeans

    def frame(dim):
        return spark.createDataFrame(
            [
                (1, [float("nan")] * dim),
                (2, [float("inf")] * dim),
                (3, [1.0] * dim),
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    def cids(df, cents):
        return {
            r["vec_id"]: r["cid"]
            for r in df.select(
                "vec_id", kmeans.assign_cid("embedding", cents).alias("cid")
            ).collect()
        }

    def codes(df, books, dim):
        return {
            r["vec_id"]: r["c"]
            for r in df.select(
                "vec_id", ann.pq_codes("embedding", books, dim).alias("c")
            ).collect()
        }

    got = cids(frame(8), [(3, [0.0] * 8), (7, [1.0] * 8)])
    assert got[1] == 3          # NaN row: lowest cid, no crash
    assert got[2] == 3          # Inf row: every distance is inf
    assert got[3] == 7          # finite row still assigns exactly
    got = cids(frame(1300), [(i, [float(i)] * 1300) for i in range(8)])
    assert got[1] == 0
    assert got[3] == 1
    # pq_codes: same guard per sub-space
    by_id = codes(frame(8), {mi: [(c, [float(c)] * 4) for c in range(4)] for mi in range(2)}, 8)
    assert by_id[1] == [0] * 2  # NaN: lowest code everywhere, no crash
    assert by_id[3] == [1] * 2
    by_id = codes(
        frame(1300), {mi: [(c, [float(c)] * 50) for c in range(4)] for mi in range(26)}, 1300
    )
    assert by_id[1] == [0] * 26
    assert by_id[3] == [1] * 26
