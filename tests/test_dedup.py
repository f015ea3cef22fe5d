from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The  quick brown fox jumps over the lazy dog "),  # exact dup after normalize
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "tiny"),  # shorter than shingle k → excluded from shingle ops
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup_groups(docs):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["canonical_id"] == 1 and out[1]["group_size"] == 2
    assert out[2]["canonical_id"] == 1 and out[2]["group_size"] == 2
    assert out[2]["content_hash"] == out[1]["content_hash"]
    assert out[3]["group_size"] == 1
    assert out[4]["group_size"] == 1


def test_char_shingles_short_doc_excluded(docs):
    sh = dedup.char_shingles(docs, "doc_id", "text", k=5)
    ids = {r["doc_id"] for r in sh.select("doc_id").distinct().collect()}
    assert 5 not in ids
    # shingle count of doc 1 == distinct 5-grams of its lowercased text
    text = "the quick brown fox jumps over the lazy dog"
    expected = {text[i : i + 5] for i in range(len(text) - 4)}
    got = {r["shingle"] for r in sh.filter(F.col("doc_id") == 1).collect()}
    assert got == expected


def test_minhash_signature_identical_for_identical_shingle_sets(docs):
    sig = dedup.minhash_signatures(
        dedup.char_shingles(docs.withColumn("text", dedup.normalize_text(F.col("text"))), "doc_id", "text"),
        "doc_id",
    )
    rows = {r["doc_id"]: r for r in sig.collect()}
    # docs 1 and 2 normalize to the same text → identical signatures
    assert all(rows[1][f"h{i}"] == rows[2][f"h{i}"] for i in range(dedup.NUM_PERM))


def test_lsh_candidates_superset_check_and_verify(docs):
    """LSH-verified pairs ⊆ exact all-pairs result; the near-dup pair
    (1,3) has high Jaccard and must survive both paths."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_duplicates(docs, "doc_id", "text", 0.5).collect()
    }
    assert lsh <= exact
    assert (1, 3) in lsh


def test_jaccard_value_matches_python(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 0.5)
    row = out.filter((F.col("id_a") == 1) & (F.col("id_b") == 3)).collect()[0]
    a = "the quick brown fox jumps over the lazy dog"
    b = "the quick brown fox jumps over the lazy cat"
    sa = {a[i : i + 5] for i in range(len(a) - 4)}
    sb = {b[i : i + 5] for i in range(len(b) - 4)}
    expected = len(sa & sb) / len(sa | sb)
    assert abs(row["jaccard"] - expected) < 1e-12


def test_connected_components_chain_and_triangle(spark):
    """A 4-node chain (10-11-12-13), a triangle (20,21,22), and an
    isolated pair (30,31): every node's cluster_id must be the minimum
    id reachable via the transitive closure, on the distributed
    large-star/small-star path and the driver union-find alike."""
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (20, 21), (21, 22), (20, 22), (30, 31)],
        ["id_a", "id_b"],
    )
    want = {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    for out in (
        dedup.connected_components_lss(pairs),
        dedup.connected_components_auto(pairs),
    ):
        assert {r["node"]: r["cluster_id"] for r in out.collect()} == want


def test_lss_components_deep_chain(spark):
    """A 60-node chain (diameter 60 — per-round min-label propagation
    would need ~60 rounds) converges under LSS in O(log² n) rounds, and
    a round budget too small for it fails loudly instead of returning
    partial labels."""
    import pytest as _pytest

    from multi_search_retrival_big_data_spark.operators import dedup as _d

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a BIGINT, id_b BIGINT"
    )
    out = _d.connected_components_lss(chain, max_iter=10)
    assert all(r["cluster_id"] == 0 for r in out.collect())
    with _pytest.raises(RuntimeError, match="did not converge"):
        _d.connected_components_lss(chain, max_iter=1)


def test_lss_components_parity_random_graph(spark):
    import random

    from multi_search_retrival_big_data_spark.operators import dedup as _d

    rng = random.Random(7)
    pairs = [(rng.randrange(80), rng.randrange(80)) for _ in range(50)]
    pairs = [(a, b) for a, b in pairs if a != b]
    pdf = spark.createDataFrame(pairs, "id_a BIGINT, id_b BIGINT")
    a = {(r["node"], r["cluster_id"]) for r in _d.connected_components_auto(pdf).collect()}
    b = {(r["node"], r["cluster_id"]) for r in _d.connected_components_lss(pdf).collect()}
    assert a == b


@pytest.fixture(scope="module")
def dup_cluster_docs(spark):
    """12 near-identical docs (one duplicate cluster — all land in the
    same LSH buckets) plus 2 unrelated docs."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base + f"tail {i % 2}") for i in range(1, 13)]
    rows += [(50, "completely different content about spark engines"),
             (51, "another unrelated document concerning duckdb oracles")]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_lsh_capped_pairs_linear_and_spanning(dup_cluster_docs):
    """Mega-bucket capping: candidate count drops from O(m²) to O(m),
    and the verified-pair graph keeps the duplicate cluster connected
    (same connected components as the uncapped path)."""
    buckets = dedup.lsh_buckets(
        dedup.minhash_signatures(
            dedup.char_shingles(dup_cluster_docs, "doc_id", "text"), "doc_id"
        ),
        "doc_id",
    ).cache()
    full = dedup.lsh_candidate_pairs(buckets, "doc_id")
    capped = dedup.lsh_candidate_pairs(buckets, "doc_id", max_bucket=3)
    n_full, n_capped = full.count(), capped.count()
    assert n_full == 66  # 12-doc bucket → all pairs
    # chain+star per mega bucket = 2·(m-1)-1 = 21 distinct pairs
    assert n_capped < n_full and n_capped <= 25
    # capped pairs ⊆ full pairs (capping only drops, never invents)
    assert capped.exceptAll(full).isEmpty()
    # identical clusters through the exact-Jaccard verify
    def clusters(cand):
        verified = dedup.jaccard_for_pairs(
            dedup.char_shingles(dup_cluster_docs, "doc_id", "text"), cand, "doc_id"
        ).filter(F.col("jaccard") >= 0.8)
        return sorted(
            (r["node"], r["cluster_id"])
            for r in dedup.connected_components_auto(
                verified.select("id_a", "id_b")
            ).collect()
        )
    assert clusters(capped) == clusters(full)


def test_lsh_bucket_stats_accounting(dup_cluster_docs):
    buckets = dedup.lsh_buckets(
        dedup.minhash_signatures(
            dedup.char_shingles(dup_cluster_docs, "doc_id", "text"), "doc_id"
        ),
        "doc_id",
    )
    stats = {r["band"]: r for r in dedup.lsh_bucket_stats(buckets, "doc_id", 3).collect()}
    assert len(stats) == dedup.LSH_BANDS
    for r in stats.values():
        assert r["n_mega_buckets"] >= 1  # the 12-doc cluster caps in every band
        assert r["capped_pairs"] < r["full_pairs"]
        assert r["mega_members"] >= 12


def test_lsh_cap_fires_on_testdata(spark, sf_dir):
    """Guard against a vacuous parity proof: the registered cap
    (LSH_MAX_BUCKET=3) must actually trigger on the driver corpus."""
    from multi_search_retrival_big_data_spark.queries.pipeline_queries import LSH_MAX_BUCKET
    from multi_search_retrival_big_data_spark import tables

    docs = tables.load(spark, "documents", sf_dir)
    buckets = dedup.lsh_buckets(
        dedup.minhash_signatures(
            dedup.char_shingles(docs, "doc_id", "text"), "doc_id"
        ),
        "doc_id",
    )
    n_mega = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") > LSH_MAX_BUCKET)
        .count()
    )
    assert n_mega >= 1


def test_connected_components_max_iter_validation(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a BIGINT, id_b BIGINT")
    with pytest.raises(ValueError):
        dedup.connected_components_lss(pairs, max_iter=0)
    with pytest.raises(ValueError):
        dedup.connected_components_auto(pairs, max_iter=0, driver_max_edges=0)


def test_connected_components_auto_shallow_and_deep(spark):
    """auto with the distributed path forced (driver_max_edges=0) runs
    LSS on a shallow graph and on a deep chain alike."""
    # shallow: triangle + isolated pair
    shallow = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11)], "id_a BIGINT, id_b BIGINT"
    )
    out = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components_auto(shallow, driver_max_edges=0).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # deep: a 40-node chain (~40 rounds of min-label propagation)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a BIGINT, id_b BIGINT"
    )
    out = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components_auto(chain, driver_max_edges=0).collect()
    }
    assert set(out.values()) == {1} and len(out) == 40


def test_connected_components_auto_driver_fast_path(spark):
    """The size-gated driver union-find gives the same labels as the
    distributed paths, including on deep chains and self-loops."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)] + [(5, 5), (50, 60), (60, 41)],
        "id_a BIGINT, id_b BIGINT",
    )
    fast = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components_auto(chain).collect()
    }
    slow = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components_lss(chain).collect()
    }
    assert fast == slow
    # empty graph -> empty labels, schema intact
    empty = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    out = dedup.connected_components_auto(empty)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["node", "cluster_id"]


def test_connected_components_selfloop_only_node_all_routes(spark):
    """r4 advice: a node appearing ONLY in a self-pair (a, a) must come
    out of every route as a singleton cluster — driver union-find and
    large-star/small-star must agree on the node SET, not just on
    shared labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 9)], "id_a BIGINT, id_b BIGINT"
    )
    want = {1: 1, 2: 1, 3: 1, 9: 9}
    routes = {
        "driver": dedup.connected_components_auto(pairs),
        "auto-distributed": dedup.connected_components_auto(
            pairs, driver_max_edges=0
        ),
        "lss": dedup.connected_components_lss(pairs),
    }
    for name, df in routes.items():
        got = {r["node"]: r["cluster_id"] for r in df.collect()}
        assert got == want, f"route {name}: {got}"


def test_lsh_delta_candidate_pairs_equals_restricted_full(spark):
    """Delta-probe candidates == full self-join candidates restricted
    to pairs touching the delta (the incremental-dedup equivalence)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 4} jumps over the lazy dog") for i in range(40)],
        "doc_id BIGINT, text STRING",
    )
    sh = dedup.char_shingles(docs, "doc_id", "text")
    sig = dedup.minhash_signatures(sh, "doc_id")
    buckets = dedup.lsh_buckets(sig, "doc_id").cache()
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(buckets, "doc_id").collect()
    }
    delta_ids = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_delta_candidate_pairs(buckets, delta_ids, "doc_id").collect()
    }
    expected = {(a, b) for a, b in full if a % 5 == 0 or b % 5 == 0}
    assert got == expected
    assert got  # non-vacuous: the 4-way near-dup corpus must collide


def test_keep_canonical_winner_and_singletons(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id BIGINT, n_chars BIGINT",
    )
    # cluster 1 = {1,2,3}; doc 4 in its own cluster via self pair; 9 unclustered
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "node BIGINT, cluster_id BIGINT"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.keep_canonical(docs, clusters, "doc_id", "n_chars").collect()
    }
    # winner = max n_chars, tie -> min doc_id: docs 2 and 3 tie at 30 -> 2
    assert out[2] == (1, True)
    assert out[1] == (1, False) and out[3] == (1, False)
    # single-member cluster keeps itself
    assert out[4] == (4, True)
    # unclustered doc survives as its own singleton
    assert out[9] == (9, True)
    # exactly one keeper per cluster id
    keepers = [d for d, (_, k) in out.items() if k]
    assert sorted(keepers) == [2, 4, 9]


def test_keep_canonical_survivor_set_is_duplicate_free(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # two clusters + singletons; survivors must contain exactly one
    # member per cluster_id and every doc appears exactly once
    docs = spark.createDataFrame(
        [(i, 100 - i) for i in range(10)], "doc_id BIGINT, n_chars BIGINT"
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (5, 5), (6, 5)], "node BIGINT, cluster_id BIGINT"
    )
    out = dedup.keep_canonical(docs, clusters, "doc_id", "n_chars").collect()
    assert len(out) == 10 and len({r["doc_id"] for r in out}) == 10
    by_cluster = {}
    for r in out:
        if r["keep"]:
            by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    # one keeper per cluster, and the keeper is the max-quality member
    assert by_cluster[0] == [0] and by_cluster[5] == [5]  # n_chars = 100 - id
    assert all(len(v) == 1 for v in by_cluster.values())


def test_semantic_candidate_pairs_within_cell_only(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # ids 1/2 share a cell and are near-identical → candidate pair;
    # id 3 is identical to id 1 but sits in another cell → NOT a
    # candidate (the SemDeDup boundary approximation, by design)
    assign = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.95, 0.05], 0),
            (3, [1.0, 0.0], 1),
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT",
    )
    pairs = dedup.semantic_candidate_pairs(assign, 0.9).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    assert 0.99 < pairs[0].cosine <= 1.0


def test_semantic_dedup_keeps_farthest_from_centroid(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # centroid (1,0): id 1 sits ON it (sim 1.0), id 2 slightly off
    # (sim ≈ 0.9986) — the pair's keeper is id 2 (LOWEST centroid sim,
    # the SemDeDup edge-of-distribution rule); id 3 is no one's dup
    assign = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.95, 0.05], 0),
            (3, [0.0, 1.0], 0),
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT",
    )
    cents = spark.createDataFrame([(0, [1.0, 0.0])], "cid INT, cv ARRAY<DOUBLE>")
    out = {r.vec_id: (r.cluster_id, r.keep) for r in dedup.semantic_dedup(assign, cents, 0.99).collect()}
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[3] == (3, True)  # singleton survives as itself


def test_semantic_delta_pairs_touch_delta_only(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # cell 0: base ids 1,2 near-identical; delta id 10 near both.
    # the base-base pair (1,2) must NOT appear (it predates the delta);
    # delta-delta double matches must collapse to one row.
    assign = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.01], 0),
            (10, [0.98, 0.02], 0),
            (11, [0.97, 0.03], 0),
            (3, [0.0, 1.0], 1),
        ],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT",
    )
    delta = spark.createDataFrame([(10,), (11,)], "vec_id BIGINT")
    got = dedup.semantic_delta_candidate_pairs(assign, delta, 0.9).collect()
    pairs = sorted((r.id_a, r.id_b) for r in got)
    assert (1, 2) not in pairs  # base-internal pair excluded
    assert (10, 11) in pairs  # delta-delta counted once
    assert pairs == [(1, 10), (1, 11), (2, 10), (2, 11), (10, 11)]
    assert len(pairs) == len(set(pairs))
    for r in got:
        assert r.cosine >= 0.9


def test_semantic_capped_subbuckets_mega_cells(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # one cell with 4 near-identical vectors (> max_cell=3 → SRP
    # sub-bucketing; identical-direction vectors share every band, so
    # the over-cap sub-bucket emits the chain+star SPANNING set, not
    # the full clique) and one small cell (≤ cap → all pairs)
    rows = [(i, [1.0, 0.0] + [0.0] * 62, 0) for i in range(1, 5)]
    rows += [(10, [0.0, 1.0] + [0.0] * 62, 1), (11, [0.0, 0.999] + [0.001] * 62, 1)]
    assign = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT"
    )
    capped = {(r.id_a, r.id_b) for r in dedup.semantic_candidate_pairs(
        assign, 0.9, max_cell=3, dim=64
    ).collect()}
    uncapped = {(r.id_a, r.id_b) for r in dedup.semantic_candidate_pairs(
        assign, 0.9
    ).collect()}
    # the viral sub-bucket stays CONNECTED (chain ∪ star spans 1-4)
    # while the emission is O(m): strictly fewer pairs than the clique
    assert {(1, 2), (1, 3), (1, 4)} <= capped  # the star
    assert len({p for p in capped if p[0] in (1, 2, 3, 4)}) < 6
    comp = {
        r.node: r.cluster_id
        for r in dedup.connected_components_auto(
            dedup.semantic_candidate_pairs(assign, 0.9, max_cell=3, dim=64)
            .select("id_a", "id_b")
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert (10, 11) in capped  # small cell keeps the all-pairs path
    assert capped <= uncapped  # capping only ever drops


def test_semantic_dedup_capped_routes_through_guard(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # mega cell 0 (4 identical-direction vectors > max_cell=3) plus a
    # singleton cell; the capped product table must still elect one
    # keeper for the clique (identical vectors share every SRP band,
    # so the guard keeps the clique intact here)
    rows = [(i, [1.0, float(i) * 1e-2] + [0.0] * 62, 0) for i in range(1, 5)]
    rows += [(10, [0.0, 1.0] + [0.0] * 62, 1)]
    assign = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0] + [0.0] * 62), (1, [0.0, 1.0] + [0.0] * 62)],
        "cid INT, cv ARRAY<DOUBLE>",
    )
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in dedup.semantic_dedup(
            assign, cents, 0.99, max_cell=3, dim=64
        ).collect()
    }
    keepers = [v for v, (c, k) in out.items() if k and c == 1]
    assert len(keepers) == 1  # one keeper for the viral clique
    # farthest-from-centroid rule: id 4 has the largest off-axis tilt
    assert keepers == [4]
    assert out[10] == (10, True)


def test_semantic_cell_pair_budget(spark):
    from multi_search_retrival_big_data_spark.operators import dedup

    # cells of size 3, 2, 1 → uncapped budget 3+1+0 = 4
    rows = [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 2)]
    assign = spark.createDataFrame(rows, "vec_id BIGINT, cid INT")
    got = dedup.semantic_cell_pair_budget(assign).collect()[0]
    assert (got.n_cells, got.max_cell_size, got.uncapped_pairs) == (3, 3, 4)


# ---- exact-substring (duplicate-span) dedup --------------------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    boiler = "this license header is repeated verbatim across many files"  # 9 tokens
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"{boiler} epsilon zeta eta theta iota kappa"),
        (3, f"unique words only here nothing shared at all today friend"),
        (4, boiler),  # document that IS the boilerplate → fully removed
        (5, "short doc"),  # fewer tokens than min_len → no windows
        (6, f"one two {boiler} three four {boiler} five six"),  # two spans
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_duplicate_spans_finds_planted_boilerplate(span_docs):
    spans = {
        r["doc_id"]: r
        for r in dedup.duplicate_spans(span_docs, "doc_id", "text", min_len=8).collect()
    }
    # doc 1: boilerplate is tokens 3..11 (1-based, 9 tokens → 2 windows of 8)
    assert spans[1]["span_start"] == 3 and spans[1]["span_end"] == 11
    assert spans[1]["span_len"] == 9 and spans[1]["n_windows"] == 2
    # doc 2: boilerplate at the start
    assert spans[2]["span_start"] == 1 and spans[2]["span_end"] == 9
    # doc 4 is exactly the boilerplate
    assert spans[4]["span_start"] == 1 and spans[4]["span_end"] == 9
    # docs 3 and 5 have no duplicated spans
    assert 3 not in spans and 5 not in spans


def test_duplicate_spans_two_islands(span_docs):
    rows = [
        r
        for r in dedup.duplicate_spans(span_docs, "doc_id", "text", min_len=8).collect()
        if r["doc_id"] == 6
    ]
    # "one two <9 tok> three four <9 tok> five six": two separated spans
    assert len(rows) == 2
    rows.sort(key=lambda r: r["span_start"])
    assert (rows[0]["span_start"], rows[0]["span_end"]) == (3, 11)
    assert (rows[1]["span_start"], rows[1]["span_end"]) == (14, 22)


def test_remove_duplicate_spans_reassembly(span_docs):
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicate_spans(
            span_docs, "doc_id", "text", min_len=8
        ).collect()
    }
    assert out[1]["text"] == "alpha beta gamma delta"
    assert out[1]["n_tokens_kept"] == 4 and out[1]["n_tokens_removed"] == 9
    assert out[2]["text"] == "epsilon zeta eta theta iota kappa"
    # untouched doc comes back tokenized-rejoined, nothing removed
    assert out[3]["n_tokens_removed"] == 0
    # fully-duplicated doc → NULL text, the string_agg-FILTER contract
    assert out[4]["text"] is None and out[4]["n_tokens_kept"] == 0
    assert out[4]["n_tokens_removed"] == 9
    # short doc survives untouched
    assert out[5]["text"] == "short doc" and out[5]["n_tokens_removed"] == 0
    assert out[6]["text"] == "one two three four five six"


def test_duplicate_spans_within_doc_repeat_not_marked(spark):
    """Cross-document threshold: a span repeated twice INSIDE one doc
    but appearing in no other doc is not marked (min_docs=2 counts
    distinct documents)."""
    rep = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"{rep} x {rep}"), (2, "totally unrelated words go here now ok")],
        "doc_id BIGINT, text STRING",
    )
    assert dedup.duplicate_spans(docs, "doc_id", "text", min_len=8).count() == 0


def test_semantic_cap_sound_at_gate_scale(spark):
    """dedup_semantic_keep's production row (cap=256) is hash-compared
    to an UNCAPPED oracle, which is sound only while no gate-scale cell
    exceeds the cap (the driver probe then routes to the exact uncapped
    plan). This assertion makes that precondition fail LOUDLY and
    self-diagnostically (r7 advice) instead of as a confusing oracle
    mismatch after a data/quantizer change."""
    from multi_search_retrival_big_data_spark import index_store
    from multi_search_retrival_big_data_spark.queries.pipeline_queries import (
        _SEM_ITERS,
        SEM_MAX_CELL_PRODUCTION,
    )

    _, assign = index_store.ivf_trained(
        spark, "/root/testdata/sf0.01", iters=_SEM_ITERS
    )
    row = dedup.semantic_cell_pair_budget(assign).collect()[0]
    assert row["max_cell_size"] < SEM_MAX_CELL_PRODUCTION, (
        f"gate-scale max cell {row['max_cell_size']} >= production cap "
        f"{SEM_MAX_CELL_PRODUCTION}: dedup_semantic_keep's uncapped oracle "
        "no longer mirrors the capped plan — retrain the quantizer "
        "(ann.ivf_nlist) or move the row to the capped-mirror oracle"
    )


def test_cell_cosine_kernel_matches_join_fold(spark):
    """The r11 grouped-GEMM within-cell kernel must be BIT-identical to
    the old cell self-join + Catalyst fold spelling — including rounding
    boundaries (exact-duplicate vectors, cosine exactly 1.0), NaN
    semantics (a zero-norm vector pairs with everything under Spark's
    NaN-is-largest `>=`), and multi-block cells (block size exercised
    via many members in one cell)."""
    import random

    from multi_search_retrival_big_data_spark.functions.rounding import det_round
    from multi_search_retrival_big_data_spark.functions.vector import dot, l2_norm

    rng = random.Random(7)
    rows = []
    vid = 0
    # cell 0: 60 vectors clustered around one direction (many pairs at
    # and just below the threshold), including two exact duplicates
    base = [rng.uniform(-1, 1) for _ in range(16)]
    for i in range(60):
        v = [x + rng.uniform(-0.12, 0.12) for x in base]
        rows.append((vid, v, 0)); vid += 1
    rows.append((vid, list(base), 0)); vid += 1
    rows.append((vid, list(base), 0)); vid += 1   # exact dup: cosine == 1.0
    rows.append((vid, [0.0] * 16, 0)); vid += 1   # zero norm: NaN cosine
    # cell 1: a few scattered vectors
    for i in range(7):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)], 1)); vid += 1
    assign = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, cid INT"
    )

    def join_fold(assign, threshold, round_to=6):
        a = assign.select(
            "cid", F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("__va"), l2_norm("embedding").alias("__na"),
        )
        b = assign.select(
            "cid", F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("__vb"), l2_norm("embedding").alias("__nb"),
        )
        cos = det_round(dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), round_to)
        return (
            a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )

    for thr in (0.9, 0.99, 1.0):
        got = sorted(map(tuple, dedup.semantic_candidate_pairs(assign, thr).collect()))
        want = sorted(
            map(tuple, join_fold(assign, thr).collect()),
            key=lambda t: (t[0], t[1]),
        )
        # NaN != NaN under tuple equality: compare with repr (NaN prints 'nan')
        assert [tuple(map(repr, t)) for t in got] == [
            tuple(map(repr, t)) for t in want
        ], f"threshold {thr}"
        assert got, f"threshold {thr} produced no pairs — test shape broken"


def test_jaccard_prefilter_identity_and_effect(spark, dup_cluster_docs):
    """min_jaccard arms the size-ratio prefilter: the >=-threshold
    result set is IDENTICAL, and the prefilter demonstrably drops
    sub-threshold candidates before the shingle join."""
    sh = dedup.char_shingles(dup_cluster_docs, "doc_id", "text")
    buckets = dedup.lsh_buckets(
        dedup.minhash_signatures(sh, "doc_id"), "doc_id"
    )
    cand = dedup.lsh_candidate_pairs(buckets, "doc_id")
    thr = 0.8
    plain = dedup.jaccard_for_pairs(sh, cand, "doc_id")
    armed = dedup.jaccard_for_pairs(sh, cand, "doc_id", min_jaccard=thr)
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    got = sorted(
        (key(r), r["intersection"], r["size_a"], r["size_b"], r["jaccard"])
        for r in armed.filter(F.col("jaccard") >= thr).collect()
    )
    want = sorted(
        (key(r), r["intersection"], r["size_a"], r["size_b"], r["jaccard"])
        for r in plain.filter(F.col("jaccard") >= thr).collect()
    )
    assert got == want and got
    # soundness of the bound itself: every pair the prefilter would
    # drop is strictly sub-threshold in the unfiltered result
    for r in plain.collect():
        lo, hi = sorted((r["size_a"], r["size_b"]))
        if lo < thr * hi:
            assert r["jaccard"] < thr


def test_duplicate_span_windows_array_gate_matches_join(spark):
    """The r11 single-evaluation marked-window gate (per-hash member
    arrays) must emit exactly the (id, pos) rows of the old
    groupBy+join spelling, including a doc repeating the same window
    content at two positions."""
    shared = " ".join(f"tok{i}" for i in range(dedup.SPAN_MIN_TOKENS))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} filler one"),
            (2, f"prefix words here {shared}"),
            (3, f"{shared} middle junk {shared}"),   # same window twice
            (4, "totally unrelated text with enough tokens to window over"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = sorted(
        map(tuple, dedup.duplicate_span_windows(docs, "doc_id", "text").collect())
    )
    # reference: the old join spelling, inlined
    from multi_search_retrival_big_data_spark.functions.text import tokenize

    ml = dedup.SPAN_MIN_TOKENS
    win = (
        docs.select("doc_id", tokenize(F.col("text")).alias("__t"))
        .filter(F.size("__t") >= ml)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("__t") - F.lit(ml - 1))).alias("pos"),
            F.col("__t"),
        )
        .select(
            "doc_id", "pos",
            F.md5(F.array_join(F.slice(F.col("__t"), F.col("pos"), F.lit(ml)), " ")).alias("h"),
        )
    )
    dup = (
        win.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("__df"))
        .filter(F.col("__df") >= dedup.SPAN_MIN_DOCS)
        .select("h")
    )
    want = sorted(map(tuple, win.join(dup, "h").select("doc_id", "pos").collect()))
    assert got == want and got
    # doc 3's duplicated window must appear at BOTH its positions
    assert sum(1 for i, _ in got if i == 3) >= 2


# ---- the one bucket-pair miner (lsh_candidate_pairs) -------------------------


def _chain_star_reference(buckets, max_bucket):
    """Pure-Python bucket-pair mining: all pairs for buckets of at most
    `max_bucket` members (every bucket when None), the id-sorted chain
    plus a star to the minimum otherwise; strict id_a < id_b."""
    out = set()
    for members in buckets.values():
        ids = sorted(members)
        if max_bucket is None or len(ids) <= max_bucket:
            cand = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]}
        else:
            cand = set(zip(ids, ids[1:])) | {(ids[0], b) for b in ids[1:]}
        out |= {(a, b) for a, b in cand if a < b}
    return out


def _bucket_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, band INT, bucket STRING")


def test_bucket_pair_miner_degenerate_inputs(spark):
    """Empty input and single-member buckets give no pairs; an id listed
    twice in one bucket never pairs with itself, capped or not (a
    lag-window chain emits (5, 5) on the capped path)."""
    from multi_search_retrival_big_data_spark.operators.textanalysis import (
        simhash_near_duplicates,
    )

    empty = _bucket_rows(spark, [])
    singles = _bucket_rows(spark, [(1, 0, "a"), (2, 0, "b"), (3, 1, "a")])
    dup = _bucket_rows(spark, [(i, 0, "x") for i in (1, 5, 5, 7, 9)])

    def pairs(df, cap):
        return {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(df, "doc_id", cap).collect()}

    for cap in (None, 2):
        assert pairs(empty, cap) == set()
        assert pairs(singles, cap) == set()
    assert pairs(dup, None) == {(1, 5), (1, 7), (1, 9), (5, 7), (5, 9), (7, 9)}
    assert pairs(dup, 2) == {(1, 5), (1, 7), (1, 9), (5, 7), (7, 9)}

    fp = spark.createDataFrame(
        [(i, "01" * 32) for i in (1, 5, 5, 7, 9)], "frame_id BIGINT, simhash STRING"
    )
    for cap in (None, 2):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_duplicates(fp, "frame_id", max_bucket=cap).collect()
        }
        assert all(a < b for a, b, _ in got), got
        assert (5, 5, 0) not in got


def test_bucket_pair_miner_matches_chain_star_reference(spark):
    """Random buckets, over-cap ones included, against the pure-Python
    reference at every cap; the payload travels with its id."""
    import random

    rng = random.Random(7)
    rows = []
    for key in range(40):
        m = rng.choice([1, 2, 3, 4, 6, 9, 17])
        for doc in rng.sample(range(200), m):
            rows.append((doc, key % 3, f"k{key}"))
    df = spark.createDataFrame(rows, "doc_id BIGINT, band INT, bucket STRING").withColumn(
        "w", (F.col("doc_id") * 7 + 3) % 13
    ).cache()
    buckets = {}
    for doc, band, bucket in rows:
        buckets.setdefault((band, bucket), []).append(doc)
    for cap in (None, 1, 2, 3, 5):
        got = dedup.lsh_candidate_pairs(df, "doc_id", cap, payload=("w",)).collect()
        assert {(r.id_a, r.id_b) for r in got} == _chain_star_reference(buckets, cap), cap
        assert len(got) == len({(r.id_a, r.id_b) for r in got})
        assert all(
            (r.w_a, r.w_b) == ((r.id_a * 7 + 3) % 13, (r.id_b * 7 + 3) % 13) for r in got
        )
    df.unpersist()


def test_bucket_pair_miner_viral_bucket_is_linear(spark):
    """One 200k-member bucket (a duplicate storm) is collected into one
    member array and, capped, emits exactly the star plus the chain:
    2m - 3 pairs, m - 1 of them from the minimum."""
    m = 200_000
    df = spark.range(m).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("band"), F.lit("x").alias("bucket")
    )
    pairs = dedup.lsh_candidate_pairs(df, "doc_id", max_bucket=64)
    got = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("id_a") == 0, 1).otherwise(0)).alias("star"),
        F.sum(F.when(F.col("id_b") == F.col("id_a") + 1, 1).otherwise(0)).alias("chain"),
    ).collect()[0]
    assert (got.n, got.star, got.chain) == (2 * m - 3, m - 1, m - 1)


def test_bucket_pair_miner_plans_no_join_or_window(spark):
    """One exchange on the bucket key: the executed plans, capped and
    uncapped, carry no join and no window node."""
    df = _bucket_rows(spark, [(i, i % 2, f"b{i % 3}") for i in range(12)])
    for cap in (None, 2):
        out = dedup.lsh_candidate_pairs(df, "doc_id", cap)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Window" not in plan, plan


def test_one_bucket_pair_miner_in_package():
    """Bucket pairs are mined only by dedup.lsh_candidate_pairs: no
    `F.lag(` window chain under operators/ outside the span merge of
    dedup.duplicate_spans (a gaps-and-islands pass, not pair mining),
    and the 128-bit image twin stays deleted."""
    import ast
    import pathlib

    pkg = pathlib.Path(dedup.__file__).parent.parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        src = path.read_text()
        if "wide_image_near_duplicates" in src:
            offenders.append(f"{rel}: wide_image_near_duplicates")
        if rel.parts[0] != "operators":
            continue
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if (rel, fn.name) == (pathlib.Path("operators/dedup.py"), "duplicate_spans"):
                continue
            for n in ast.walk(fn):
                f = n.func if isinstance(n, ast.Call) else None
                if isinstance(f, ast.Attribute) and f.attr == "lag":
                    offenders.append(f"{rel}:{n.lineno}: {fn.name} calls lag(")
    assert not offenders, "use dedup.lsh_candidate_pairs:\n" + "\n".join(sorted(set(offenders)))
