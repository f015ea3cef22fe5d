"""Persisted fitted-index store: build-once semantics and parity with
an inline fit (the reference's fitted-artifact load path,
object_retrieval.py:117-145)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import index_store, tables
from multi_search_retrival_big_data_spark.operators import sparse


def test_postings_match_inline_fit(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    inline = {
        (r["term"], r["doc_id"]): r["weight"]
        for r in sparse.fit_tfidf(docs).collect()
    }
    stored = {
        (r["term"], r["doc_id"]): r["weight"]
        for r in index_store.tfidf_postings(spark, sf_dir).collect()
    }
    assert stored == inline


def test_second_read_skips_build(spark, sf_dir):
    t1 = index_store.tfidf_postings(spark, sf_dir)
    name = [t.name for t in spark.catalog.listTables() if t.name.startswith("msrbd_tfidf_11")]
    assert name, "expected a registered msrbd_tfidf_11_* table"
    t2 = index_store.tfidf_postings(spark, sf_dir)
    assert t1.count() == t2.count()


def test_bucketed_groupby_term_has_no_exchange(spark, sf_dir):
    """The whole point of the persisted layout: aggregations keyed by
    `term` read pre-clustered buckets — no Exchange on the index —
    whereas the same aggregation over an unbucketed fit must shuffle."""

    def plan(df):
        return (
            df.groupBy("term")
            .agg(F.count("*").alias("df"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    assert "Exchange" not in plan(index_store.tfidf_postings(spark, sf_dir))
    docs = tables.load(spark, "documents", sf_dir)
    assert "Exchange" in plan(sparse.fit_tfidf(docs))


def test_concurrent_build_same_index(spark, sf_dir, tmp_path):
    """Two threads asking for the same missing index in one session
    both get the one table: the second waits for the first's build
    instead of racing it through drop/create."""
    import shutil
    import threading

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    barrier = threading.Barrier(2)
    counts: list[int] = []
    errors: list[BaseException] = []

    def build() -> None:
        try:
            barrier.wait()
            counts.append(index_store.tfidf_postings(spark, str(d)).count())
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    spark.sql(
        f"DROP TABLE IF EXISTS {index_store._table_name('tfidf', str(d), '11', 'documents')}"
    )
    assert not errors, errors
    assert len(counts) == 2 and counts[0] == counts[1] > 0


def _table_of(df) -> str:
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    return re.search(r"spark_catalog\.default\.(\w+)", plan).group(1)


def _layout(spark, name: str) -> tuple[int, list[str], list[str], list[str]]:
    """(num buckets, bucket cols, sort cols, partition cols) as the
    catalog records them."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }

    def cols(key: str) -> list[str]:
        raw = info.get(key, "[]").strip("[]")
        return [c.strip().strip("`") for c in raw.split(",") if c.strip()]

    parts = [c.name for c in spark.catalog.listColumns(name) if c.isPartition]
    return int(info.get("Num Buckets", 0)), cols("Bucket Columns"), cols(
        "Sort Columns"
    ), parts


def _bucket(col: str):
    return (32, [col], [col], [])


def _partition(*cols: str):
    return (0, [], [], list(cols))


_PLAIN = (0, [], [], [])


def _halves(spark, sf_dir, **kw) -> tuple[str, str]:
    base, (d1, d2) = index_store.incremental_split_filters(spark, sf_dir, **kw)
    return base, f"({d1}) OR ({d2})"


def _doc_halves(spark, sf_dir) -> tuple[str, str]:
    return _halves(spark, sf_dir, table="documents", id_col="doc_id")


_MC = {"w": (1, 1), "b": (2, 2)}

_LAYOUT_CASES = [
    pytest.param(
        lambda s, d: index_store.tfidf_postings(s, d), [_bucket("term")],
        id="tfidf_postings",
    ),
    pytest.param(
        lambda s, d: index_store.tfidf_postings(s, d, (3, 5), "char"),
        [_bucket("term")],
        id="tfidf_postings_char",
    ),
    pytest.param(
        lambda s, d: index_store.bm25_postings(s, d), [_bucket("term")],
        id="bm25_postings",
    ),
    pytest.param(
        lambda s, d: index_store.multichannel_postings(s, d, _MC),
        [_bucket("term")],
        id="multichannel_postings",
    ),
    pytest.param(
        lambda s, d: index_store.ivf_assignments(s, d), [_partition("cid")],
        id="ivf_assignments",
    ),
    pytest.param(
        lambda s, d: index_store.emb_lsh_bands(s, d), [_partition("band", "bval")],
        id="emb_lsh_bands",
    ),
    pytest.param(
        lambda s, d: index_store.doc_shingles(s, d), [_bucket("doc_id")],
        id="doc_shingles",
    ),
    pytest.param(
        lambda s, d: index_store.minhash_sigs(s, d), [_bucket("doc_id")],
        id="minhash_sigs",
    ),
    pytest.param(
        lambda s, d: index_store.pq_codes(s, d), [_bucket("vec_id")],
        id="pq_codes",
    ),
    pytest.param(
        lambda s, d: index_store.ivf_trained(s, d),
        [_PLAIN, _partition("cid")],
        id="ivf_trained",
    ),
    pytest.param(
        lambda s, d: index_store.dim_corpus(s, d), [_PLAIN],
        id="dim_corpus",
    ),
    pytest.param(
        lambda s, d: index_store.model_b_dim_corpus(s, d),
        [_PLAIN],
        marks=pytest.mark.slow,
        id="model_b_dim_corpus",
    ),
    pytest.param(
        lambda s, d: index_store.ivf_trained_dim(s, d),
        [_PLAIN, _partition("cid")],
        marks=pytest.mark.slow,
        id="ivf_trained_dim",
    ),
    pytest.param(
        lambda s, d: index_store.pq_trained(s, d), [_PLAIN, _bucket("vec_id")],
        id="pq_trained",
    ),
    pytest.param(
        lambda s, d: index_store.ivfpq(s, d),
        [_PLAIN, _PLAIN, _partition("cid")],
        id="ivfpq",
    ),
    pytest.param(
        lambda s, d: index_store.sq8(s, d), [_PLAIN, _bucket("vec_id")],
        id="sq8",
    ),
    pytest.param(
        lambda s, d: index_store.lsh_bands_incremental(s, d, *_halves(s, d)),
        [_partition("band", "bval")],
        id="lsh_bands_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.ivf_assignments_incremental(s, d, *_halves(s, d)),
        [_partition("cid")],
        id="ivf_assignments_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.ivf_assignments_drifted(s, d)[0],
        [_partition("cid")],
        id="ivf_assignments_drifted",
    ),
    pytest.param(
        lambda s, d: index_store.pq_codes_incremental(s, d, *_halves(s, d), stride=16),
        [_bucket("vec_id")],
        id="pq_codes_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.tfidf_postings_incremental(s, d, *_doc_halves(s, d)),
        [_bucket("term")],
        id="tfidf_postings_incremental",
    ),
    pytest.param(
        lambda s, d: tuple(
            index_store.manifest_media_state_incremental(s, d, *_doc_halves(s, d)).values()
        ),
        [_bucket("doc_id"), _bucket("doc_id"), _PLAIN, _PLAIN, _PLAIN],
        id="manifest_media_state_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.multichannel_postings_incremental(
            s, d, *_doc_halves(s, d), _MC
        ),
        [_bucket("term")],
        id="multichannel_postings_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.compact_postings_table(
            s, _table_of(index_store.tfidf_postings(s, d))
        ),
        [_bucket("term")],
        id="compact_postings_table",
    ),
    pytest.param(
        lambda s, d: index_store.bm25_postings_incremental(s, d, *_doc_halves(s, d)),
        [_bucket("term")],
        id="bm25_postings_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.sq8_codes_incremental(s, d, *_halves(s, d)),
        [_bucket("vec_id")],
        id="sq8_codes_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.lsh_bands_stream_incremental(s, d),
        [_partition("band", "bval")],
        marks=pytest.mark.slow,
        id="lsh_bands_stream_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.tfidf_postings_stream_incremental(s, d),
        [_bucket("term")],
        id="tfidf_postings_stream_incremental",
    ),
    pytest.param(
        lambda s, d: index_store.lsh_bands_stream_latedata(s, d),
        [_partition("band", "bval")],
        marks=pytest.mark.slow,
        id="lsh_bands_stream_latedata",
    ),
]


@pytest.mark.parametrize("build, expected", _LAYOUT_CASES)
def test_index_table_layouts(spark, sf_dir, build, expected):
    """Every persisted index and every append proof keeps its at-rest
    layout: bucket count, bucket and sort columns, partition columns.
    Scan plans (no Exchange on bucketed keys, partition pruning on
    probes) depend on these specs, and a write that loses one still
    returns the same rows."""
    out = build(spark, sf_dir)
    frames = out if isinstance(out, tuple) else (out,)
    got = [_layout(spark, _table_of(df)) for df in frames]
    assert got == expected


def test_scoring_on_stored_postings_matches_inline(spark, sf_dir):
    q = sparse.query_terms("fast query join merge window", (1, 1))
    docs = tables.load(spark, "documents", sf_dir)
    a = sparse.tfidf_score(sparse.fit_tfidf(docs).cache(), q, k=20, round_to=6).collect()
    b = sparse.tfidf_score(index_store.tfidf_postings(spark, sf_dir), q, k=20, round_to=6).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [(r["doc_id"], r["score"]) for r in b]


def test_lsh_bands_match_inline(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    emb = tables.load(spark, "embeddings", sf_dir)
    inline = {
        (r["vec_id"], r["band"], r["bval"])
        for r in ann.banded_signatures(emb).collect()
    }
    stored = {
        (r["vec_id"], r["band"], r["bval"])
        for r in index_store.emb_lsh_bands(spark, sf_dir).collect()
    }
    assert stored == inline


def test_lsh_topk_banded_matches_inline(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    emb = tables.load(spark, "embeddings", sf_dir)
    q = [0.2] * 32 + [-0.1] * 32
    a = ann.ann_lsh_topk(emb, q, k=20, round_to=6).collect()
    b = ann.ann_lsh_topk(
        emb, q, k=20, round_to=6, banded=index_store.emb_lsh_bands(spark, sf_dir)
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_minhash_store_matches_inline(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import dedup

    docs = tables.load(spark, "documents", sf_dir)
    inline = dedup.minhash_near_duplicates(docs, "doc_id", "text", 0.8)
    stored = dedup.minhash_near_duplicates(
        docs,
        "doc_id",
        "text",
        0.8,
        shingles=index_store.doc_shingles(spark, sf_dir),
        signatures=index_store.minhash_sigs(spark, sf_dir),
    )
    key = lambda r: (r["id_a"], r["id_b"], round(r["jaccard"], 9))  # noqa: E731
    assert sorted(map(key, inline.collect())) == sorted(map(key, stored.collect()))


def test_corpus_fingerprint_tracks_content(tmp_path):
    """A rewritten corpus under the SAME path must produce a different
    index table name (the r2 verdict's staleness hazard)."""
    import shutil
    import time

    src = "/root/testdata/sf0.001/embeddings.parquet"
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(src, d / "embeddings.parquet")
    f1 = index_store._corpus_fingerprint(str(d), "embeddings")
    assert f1 == index_store._corpus_fingerprint(str(d), "embeddings")  # stable
    time.sleep(0.01)
    shutil.copy(src, d / "embeddings.parquet")  # rewrite-in-place → new mtime
    f2 = index_store._corpus_fingerprint(str(d), "embeddings")
    assert f1 != f2
    n1 = index_store._table_name("tfidf", str(d), "11", "embeddings")
    assert f1 not in n1 and f2 in n1


def test_lsh_incremental_append_matches_rebuild(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    t = index_store.lsh_bands_incremental(
        spark, sf_dir, "vec_id < 100", "vec_id >= 100"
    )
    emb = tables.load(spark, "embeddings", sf_dir)
    full = ann.banded_signatures(emb)
    key = lambda r: (r["vec_id"], r["band"], r["bval"])  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(map(key, full.collect()))


@pytest.mark.slow
def test_lsh_stream_incremental_matches_rebuild(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    t = index_store.lsh_bands_stream_incremental(spark, sf_dir)
    emb = tables.load(spark, "embeddings", sf_dir)
    full = ann.banded_signatures(emb)
    key = lambda r: (r["vec_id"], r["band"], r["bval"])  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(map(key, full.collect()))


def test_pq_incremental_append_matches_rebuild(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    base_f, (d1, d2) = index_store.incremental_split_filters(spark, sf_dir)
    # stride 16 keeps the training ids inside the 60% base slice
    t = index_store.pq_codes_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})", stride=16
    )
    emb = tables.load(spark, "embeddings", sf_dir)
    full = ann.pq_encode(emb, stride=16)
    key = lambda r: tuple(r[c] for c in full.columns)  # noqa: E731
    assert sorted(map(key, t.select(*full.columns).collect())) == sorted(
        map(key, full.collect())
    )


def test_pq_incremental_rejects_split_outside_training_ids(spark, sf_dir):
    import pytest as _pytest

    from multi_search_retrival_big_data_spark.operators import ann

    # a base slice missing some stride-training ids cannot reproduce
    # the full-corpus codebook -> the guard must fail loudly
    bad_base = f"vec_id > {ann.PQ_STRIDE}"
    with _pytest.raises(ValueError, match="training ids"):
        index_store.pq_codes_incremental(
            spark, sf_dir, bad_base, f"vec_id <= {ann.PQ_STRIDE}"
        )


def test_incremental_split_filters_nonempty(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables

    base_f, (d1, d2) = index_store.incremental_split_filters(spark, sf_dir)
    emb = tables.load(spark, "embeddings", sf_dir)
    n_base, n1, n2 = (
        emb.filter(base_f).count(),
        emb.filter(d1).count(),
        emb.filter(d2).count(),
    )
    assert n_base > 0 and n1 > 0 and n2 > 0
    assert n_base + n1 + n2 == emb.count()


@pytest.mark.slow
def test_stream_latedata_dedups_replays(spark, sf_dir):
    """The watermarked stream ingests 3 micro-batches containing
    replayed rows; the final table must hold each vector's bands
    exactly once (equal to a from-scratch full banding)."""
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import ann

    t = index_store.lsh_bands_stream_latedata(spark, sf_dir)
    emb = tables.load(spark, "embeddings", sf_dir)
    full = ann.banded_signatures(emb)
    assert t.count() == full.count()
    # no vector appears twice within a band
    from pyspark.sql import functions as F

    dup = t.groupBy("band", "vec_id").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_gc_retires_stale_generations(spark, sf_dir, tmp_path):
    """An index built for a throwaway corpus (the bench stress tiers)
    must be dropped by gc_stale_index_tables once that corpus is no
    longer listed live — while every live generation survives."""
    import shutil

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet", d / "documents.parquet"
    )
    stale = index_store.tfidf_postings(spark, str(d))
    stale_name = index_store._table_name("tfidf", str(d), "11", "documents")
    live_name = index_store._table_name("tfidf", sf_dir, "11", "documents")
    index_store.tfidf_postings(spark, sf_dir)  # live generation
    assert spark.catalog.tableExists(stale_name)

    # corpus still listed → kept
    dropped = index_store.gc_stale_index_tables(spark, [sf_dir, str(d)])
    assert stale_name not in dropped
    assert spark.catalog.tableExists(stale_name)

    # corpus gone from the live list → retired; live generation kept
    dropped = index_store.gc_stale_index_tables(spark, [sf_dir])
    assert stale_name in dropped
    assert not spark.catalog.tableExists(stale_name)
    assert spark.catalog.tableExists(live_name)
    del stale


def test_sq8_incremental_append_matches_rebuild(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import ann

    base_f, (d1, d2) = index_store.incremental_split_filters(spark, sf_dir)
    t = index_store.sq8_codes_incremental(spark, sf_dir, base_f, f"({d1}) OR ({d2})")
    emb = tables.load(spark, "embeddings", sf_dir)
    bounds = ann.sq8_train(emb.filter(base_f))  # FROZEN base-trained model
    full = ann.sq8_encode(emb, bounds)
    key = lambda r: (r["vec_id"], tuple(r["codes"]))  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(map(key, full.collect()))


def test_tfidf_stream_incremental_matches_batch_append(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import sparse

    t = index_store.tfidf_postings_stream_incremental(spark, sf_dir)
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    batch = index_store.tfidf_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    key = lambda r: (r["term"], r["doc_id"], round(r["weight"], 9))  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(map(key, batch.collect()))


def test_compact_postings_collapses_file_sets(spark, sf_dir):
    import glob as _glob
    import os as _os

    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    inc = index_store.tfidf_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    name = index_store._table_name("tfidfinc", sf_dir, "11", "documents")
    cmp_t = index_store.compact_postings_table(spark, name)
    key = lambda r: (r["term"], r["doc_id"], round(r["weight"], 9))  # noqa: E731
    assert sorted(map(key, cmp_t.collect())) == sorted(map(key, inc.collect()))

    def n_files(tbl: str) -> int:
        loc = (
            spark.sql(f"DESCRIBE FORMATTED {tbl}")
            .filter("col_name = 'Location'")
            .collect()[0]["data_type"]
        ).replace("file:", "")
        return len(_glob.glob(_os.path.join(loc, "part-*")))

    # base write + delta append = two file sets; compaction = one
    assert n_files(f"{name}_cmp") < n_files(name)


def test_multichannel_incremental_append_matches_fit_plus_transform(spark, sf_dir):
    from multi_search_retrival_big_data_spark.operators import sparse

    ch = {"w": (1, 1), "b": (2, 2)}
    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.multichannel_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})", ch
    )
    docs = tables.load(spark, "documents", sf_dir)
    want = sparse.fit_tfidf_multichannel(docs.filter(base_f), ch)
    want_delta = sparse.transform_tfidf_multichannel(
        docs.filter(f"({d1}) OR ({d2})"), want, ch
    )
    key = lambda r: (r["channel"], r["term"], r["doc_id"], round(r["weight"], 9))  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(
        map(key, want.collect() + want_delta.collect())
    )


def test_gc_regex_retires_compacted_generations():
    """The janitor pattern must treat `<fp>_cmp` (compact_postings_table
    generations) as fingerprint-bearing: a dead corpus retires its
    compacted twin too, instead of leaking it in the warehouse forever
    (the cross-step hazard index_lifecycle_end_to_end pins)."""
    fp = "0123456789"
    for name in (
        f"msrbd_tfidfinc_11_{fp}",
        f"msrbd_tfidfinc_11_{fp}_cmp",
        f"msrbd_tfidfinc_11_{fp}_cmp_cmp",
    ):
        m = index_store._FP_RE.match(name)
        assert m is not None and m.group(1) == fp, name
    # non-index tables and malformed suffixes never match
    for name in ("other_table", "msrbd_tfidf_11_zzz", f"msrbd_tfidf_11_{fp}x"):
        assert index_store._FP_RE.match(name) is None, name


def test_ivf_drifted_frozen_append_vs_retrained(spark, sf_dir):
    """The drift harness: the frozen-model appended table holds every
    corpus row, delta rows are shifted by the offset, and the shifted
    mass collapses into fewer distinct frozen cells than a retrained
    assignment spreads it over (the retrain gauge
    ann_incremental_recall_drift reports)."""
    from multi_search_retrival_big_data_spark.operators import kmeans

    frozen_t, drift = index_store.ivf_assignments_drifted(
        spark, sf_dir, stride=16, offset=0.6
    )
    emb = tables.load(spark, "embeddings", sf_dir)
    assert frozen_t.count() == emb.count()
    base_f, _ = index_store.incremental_split_filters(spark, sf_dir)
    t1 = int(base_f.split("<")[1])
    # delta rows carry the shifted vectors (first component moved by +0.6)
    orig = {r["vec_id"]: r["embedding"][0] for r in emb.collect()}
    for r in drift.collect():
        want = orig[r["vec_id"]] + (0.6 if r["vec_id"] >= t1 else 0.0)
        assert abs(r["embedding"][0] - want) < 1e-12
    # frozen cells only ever come from the base slice's centroid ids
    cids = {r["cid"] for r in frozen_t.select("cid").distinct().collect()}
    assert all(c < t1 and c % 16 == 0 for c in cids)
    # the shifted delta concentrates: fewer distinct frozen cells than
    # a retrained model spreads it across
    rcents = [
        (r["cid"], r["embedding"])
        for r in drift.filter(F.col("vec_id") % 16 == 0)
        .select("vec_id", "embedding")
        .withColumnRenamed("vec_id", "cid")
        .collect()
    ]
    retr = drift.select(
        "vec_id", kmeans.assign_cid("embedding", rcents).alias("cid")
    )
    delta_f = f"vec_id >= {t1}"
    frozen_cells = frozen_t.filter(delta_f).select("cid").distinct().count()
    retr_cells = retr.filter(delta_f).select("cid").distinct().count()
    assert frozen_cells < retr_cells


def test_manifest_media_state_append_matches_rebuild(spark, sf_dir):
    # r9 verdict item 5: the incremental manifest's candidate state —
    # every state row is a per-item pure function, so base-write +
    # delta-append must equal a from-scratch build row-for-row (the
    # oracle row pipeline_manifest_incremental proves the downstream
    # manifest equivalence; this pins the append algebra itself)
    from multi_search_retrival_big_data_spark.operators import (
        dedup,
        multimodal as mm,
    )

    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    st = index_store.manifest_media_state_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    docs = tables.load(spark, "documents", sf_dir)
    scratch_sigs = {
        tuple(r)
        for r in dedup.minhash_signatures(
            dedup.char_shingles(docs, "doc_id", "text", dedup.SHINGLE_K),
            "doc_id",
            dedup.NUM_PERM,
        ).collect()
    }
    assert {tuple(r) for r in st["signatures"].collect()} == scratch_sigs
    # r10: the media state feeds the WIDE-geometry keep pipeline, so
    # the persisted fingerprints are the 128-bit interpolated dHash
    scratch_fp = {
        (r["frame_id"], r["dhash"])
        for r in mm.dhash_fingerprints(
            mm.synth_keyframes(mm.as_media_table(docs)),
            rows=mm.WIDE_DHASH_ROWS,
            fill_empty=True,
        ).collect()
    }
    assert {
        (r["frame_id"], r["dhash"]) for r in st["image_fp"].collect()
    } == scratch_fp


def test_index_tables_written_only_through_write_and_materialize():
    """The package has one way to materialize an index table:
    `_write` owns every saveAsTable and bucket spec, `_materialize`
    owns every drop of a stale table location. A call elsewhere
    reintroduces a hand-rolled check/drop/build/save block."""
    import ast
    import pathlib

    pkg = pathlib.Path(index_store.__file__).parent
    owners = {
        n.name: (n.lineno, n.end_lineno)
        for n in ast.parse(pathlib.Path(index_store.__file__).read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name in ("_write", "_materialize")
    }
    assert set(owners) == {"_write", "_materialize"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            hits = [
                m
                for m in ("saveAsTable(", ".bucketBy(", "_drop_stale_location(")
                if m in line
            ]
            if not hits or line.lstrip().startswith("def _drop_stale_location("):
                continue
            if path.name == "index_store.py" and any(
                lo <= lineno <= hi for lo, hi in owners.values()
            ):
                continue
            offenders.append(f"{path.relative_to(pkg)}:{lineno} {hits}")
    assert not offenders, f"write index tables through index_store._write: {offenders}"
