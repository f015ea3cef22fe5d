"""Property tests (SURVEY.md §5 item 3): fusion invariants, subset ⊆
full search, top-k prefix property. Small example counts — each
example spins Spark jobs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import dense, fusion
from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

score_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=12,
    unique_by=lambda t: t[0],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, float(s)) for i, s in rows], "id BIGINT, score DOUBLE"
    )


@SETTINGS
@given(rows=score_lists)
def test_single_list_fusion_is_identity(spark, rows):
    out = fusion.merge_by_addition([_df(spark, rows)]).collect()
    got = {r["id"]: r["score"] for r in out}
    assert got == {i: pytest.approx(s) for i, s in dict(rows).items()}


@SETTINGS
@given(rows_a=score_lists, rows_b=score_lists)
@pytest.mark.slow
def test_fusion_is_source_order_invariant(spark, rows_a, rows_b):
    a, b = _df(spark, rows_a), _df(spark, rows_b)
    ab = {(r["id"], r["score"]) for r in fusion.merge_by_addition([a, b], round_to=9).collect()}
    ba = {(r["id"], r["score"]) for r in fusion.merge_by_addition([b, a], round_to=9).collect()}
    assert ab == ba


@SETTINGS
@given(rows=score_lists)
def test_minmax_normalize_bounds(spark, rows):
    out = fusion.minmax_normalize(_df(spark, rows)).collect()
    for r in out:
        assert -1e-9 <= r["score"] <= 1.0 + 1e-9


def test_subset_hits_are_subset_of_full(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    n = emb.count()
    full = {r["vec_id"]: r["score"] for r in dense.topk_cosine(emb, QUERY_VEC, k=n, round_to=6).collect()}
    subset_ids = emb.filter(F.col("label") < 3).select("vec_id")
    sub = dense.topk_cosine(emb, QUERY_VEC, k=20, subset=subset_ids, round_to=6).collect()
    allowed = {r["vec_id"] for r in subset_ids.collect()}
    for r in sub:
        assert r["vec_id"] in allowed
        assert full[r["vec_id"]] == r["score"]


@pytest.mark.parametrize("k1,k2", [(5, 20), (10, 50)])
def test_topk_prefix_property(spark, sf_dir, k1, k2):
    emb = tables.load(spark, "embeddings", sf_dir)
    small = [r["vec_id"] for r in dense.topk_cosine(emb, QUERY_VEC, k=k1, round_to=6).collect()]
    big = [r["vec_id"] for r in dense.topk_cosine(emb, QUERY_VEC, k=k2, round_to=6).collect()]
    assert big[:k1] == small


@SETTINGS
@given(rows_a=score_lists, rows_b=score_lists)
def test_l2_dedup_max_takes_max(spark, rows_a, rows_b):
    import math

    a, b = dict(rows_a), dict(rows_b)
    la = math.sqrt(sum(s * s for s in a.values()))
    lb = math.sqrt(sum(s * s for s in b.values()))
    out = {
        r["id"]: r["score"]
        for r in fusion.merge_l2_dedup_max([_df(spark, list(a.items())), _df(spark, list(b.items()))]).collect()
    }
    for i in set(a) | set(b):
        cands = []
        if i in a and la > 0:
            cands.append(a[i] / la)
        if i in b and lb > 0:
            cands.append(b[i] / lb)
        if cands:
            assert out[i] == pytest.approx(max(cands))


doc_texts = st.lists(
    st.text(alphabet="abcdef ", min_size=10, max_size=60),
    min_size=2,
    max_size=8,
)


@SETTINGS
@given(texts=doc_texts)
@pytest.mark.slow
def test_minhash_lsh_subset_of_exact_property(spark, texts):
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id BIGINT, text STRING")
    t = 0.3
    exact = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", t).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in dedup.minhash_near_duplicates(docs, "doc_id", "text", t).collect()}
    assert lsh <= exact


@SETTINGS
@given(texts=doc_texts)
@pytest.mark.slow
def test_simhash_identical_docs_zero_hamming(spark, texts):
    from multi_search_retrival_big_data_spark.operators import textanalysis as ta

    rows = [(0, texts[0]), (1, texts[0])] + [(i + 2, t) for i, t in enumerate(texts[1:])]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    fp = {r["doc_id"]: r["simhash"] for r in ta.simhash_fingerprints(docs, "doc_id", "text").collect()}
    if 0 in fp and 1 in fp:  # docs with no tokens produce no fingerprint
        assert fp[0] == fp[1]


@SETTINGS
@given(texts=doc_texts)
def test_quality_ratios_bounded(spark, texts):
    from multi_search_retrival_big_data_spark.operators import textanalysis as ta

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id BIGINT, text STRING")
    for r in ta.quality_features(docs, "doc_id", "text").collect():
        for c in ("word_char_ratio", "punct_ratio", "digit_ratio", "stopword_ratio", "quality"):
            assert -1e-9 <= r[c] <= 1.0 + 1e-9


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(edges=edge_lists)
def test_connected_components_fixed_point_property(spark, edges):
    """Every node's cluster_id is a member of its own cluster, is ≤ the
    node id, and both endpoints of every edge share a cluster."""
    from multi_search_retrival_big_data_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components_lss(pairs).collect()
    }
    for a, b in edges:
        assert got[a] == got[b]
    for node, cid in got.items():
        assert cid <= node
        assert got[cid] == cid  # the representative labels itself


@SETTINGS
@given(vals=st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=6), min_size=1, max_size=60))
def test_kmv_exact_when_distinct_below_k(spark, vals):
    """With fewer distinct values than k, the sketch degenerates to an
    exact count of distinct hashes (k_min == |distinct|, modulo 32-bit
    hash-prefix collisions which the md5 prefix makes negligible)."""
    from multi_search_retrival_big_data_spark.operators import sampling

    df = spark.createDataFrame([(v,) for v in vals], ["t"])
    row = sampling.kmv_distinct(df, "t", 256).collect()[0]
    assert row["k_min"] == len(set(vals))


@SETTINGS
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=5, max_size=60, unique=True),
    n=st.integers(1, 5),
)
def test_stratified_sample_is_hash_prefix(spark, ids, n):
    """The n-per-stratum sample must be exactly the n hash-smallest ids
    — i.e. a prefix of the md5 order, never an arbitrary subset."""
    import hashlib

    from multi_search_retrival_big_data_spark.operators import sampling

    df = spark.createDataFrame([(i, "g") for i in ids], ["id", "grp"])
    got = sorted(
        r["id"] for r in sampling.stratified_sample(df, ["grp"], "id", n).collect()
    )
    expected = sorted(
        sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:n]
    )
    assert got == expected


# ---------------------------------------------------------- curation

from multi_search_retrival_big_data_spark.operators import curation  # noqa: E402

kv_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.text(alphabet="abc", min_size=0, max_size=4),
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda t: t[0],
)


def _kv(spark, rows):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", StringType())]
    )
    return spark.createDataFrame([(int(k), v) for k, v in rows], schema)


@SETTINGS
@given(base=kv_lists, delta=kv_lists)
@pytest.mark.slow
def test_upsert_is_idempotent_and_delta_wins(spark, base, delta):
    b, d = _kv(spark, base), _kv(spark, delta)
    once = {r["k"]: r["v"] for r in curation.upsert(b, d, ["k"]).collect()}
    twice = {
        r["k"]: r["v"]
        for r in curation.upsert(curation.upsert(b, d, ["k"]), d, ["k"]).collect()
    }
    assert once == twice
    expected = dict(base)
    expected.update(dict(delta))
    assert once == expected


size_lists = st.lists(
    st.integers(min_value=1, max_value=40), min_size=1, max_size=15
)


@SETTINGS
@given(sizes=size_lists)
def test_pack_bins_are_contiguous_and_fill_bounded(spark, sizes):
    rows = [("p", i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "part STRING, id BIGINT, n BIGINT")
    cap = 50
    out = sorted(
        curation.pack_budget_bins(df, "part", "id", "n", cap).collect(),
        key=lambda r: r["id"],
    )
    bins = [r["bin_id"] for r in out]
    # bin ids are non-decreasing in walk order
    assert bins == sorted(bins)
    # every bin's fill is < cap + its largest member (overflow bound)
    fills: dict[int, int] = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n"]
    for b, fill in fills.items():
        members = [r["n"] for r in out if r["bin_id"] == b]
        assert fill < cap + max(members)


@SETTINGS
@given(data=st.data())
def test_redact_pii_is_idempotent(spark, data):
    texts = data.draw(
        st.lists(
            st.text(
                alphabet="ab1.@- \n", min_size=0, max_size=30
            ),
            min_size=1,
            max_size=6,
        )
    )
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["id", "t"])
    once = df.select("id", curation.redact_pii(F.col("t")).alias("r"))
    twice = once.select("id", curation.redact_pii(F.col("r")).alias("r"))
    a = {r["id"]: r["r"] for r in once.collect()}
    b = {r["id"]: r["r"] for r in twice.collect()}
    assert a == b
