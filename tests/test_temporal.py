"""Temporal / search-space operator properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import filters, temporal


def test_temporal_neighborhood_excludes_anchor_and_bounds(spark, sf_dir):
    ev = tables.load(spark, "events", sf_dir)
    seqd = temporal.sequence_rank(ev, ["user_id"], ["ts", "event_id"])
    anchors = seqd.filter("event_type = 'signup'").limit(5).select("user_id", "seq")
    out = temporal.temporal_neighborhood(
        anchors, seqd.select("user_id", "event_id", "seq"), keys=["user_id"],
        mode=1, range_filter=2,
    ).collect()
    a = {(r.user_id, r.seq) for r in anchors.collect()}
    for r in out:
        # every candidate lies strictly after SOME anchor of its user,
        # within the range window (an anchor may appear in another
        # anchor's window — same as the reference's shot windows)
        assert any(0 < r.seq - s <= 2 for u, s in a if u == r.user_id)


def test_temporal_neighborhood_mode2_is_previous(spark, sf_dir):
    ev = tables.load(spark, "events", sf_dir)
    seqd = temporal.sequence_rank(ev, ["user_id"], ["ts", "event_id"])
    anchors = seqd.filter("seq = 5").limit(3).select("user_id", "seq")
    out = temporal.temporal_neighborhood(
        anchors, seqd.select("user_id", "seq"), keys=["user_id"], mode=2, range_filter=3
    ).collect()
    assert out and all(2 <= r.seq <= 4 for r in out)


def test_search_space_complement_disjoint(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    ignore = spark.createDataFrame([(0,), (2,)], "doc_id BIGINT")
    removed = filters.expand_to_group(ignore, docs, "doc_id", ["source"])
    allowed = filters.complement(docs, removed, "doc_id")
    r = {x.doc_id for x in removed.collect()}
    a = {x.doc_id for x in allowed.collect()}
    assert r and a and not (r & a)
    assert len(r) + len(a) == docs.count()


def test_intersect_all_is_conjunction(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    s1 = docs.filter("lang = 'en'").select("doc_id")
    s2 = docs.filter("n_chars > 150").select("doc_id")
    got = {r.doc_id for r in filters.intersect_all([s1, s2], "doc_id").collect()}
    exp = {r.doc_id for r in docs.filter("lang = 'en' AND n_chars > 150").select("doc_id").collect()}
    assert got == exp


def test_dense_global_ids_are_dense_and_ordered(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir).limit(50)
    out = temporal.dense_global_ids(docs, ["doc_id"], "gid").select("doc_id", "gid").collect()
    ids = sorted(out, key=lambda r: r.doc_id)
    assert [r.gid for r in ids] == list(range(50))


def test_dense_global_ids_scalable_parity(spark, sf_dir):
    """The partition-parallel enumeration must be bit-equal to a global
    `row_number() OVER (ORDER BY ...) - 1` on a unique order key."""
    from pyspark.sql.window import Window

    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import temporal

    docs = tables.load(spark, "documents", sf_dir).select("source", "doc_id")
    ref = docs.withColumn(
        "gid", F.row_number().over(Window.orderBy("source", "doc_id")) - F.lit(1)
    )
    got = temporal.dense_global_ids(docs, ["source", "doc_id"], id_col="gid")
    ra = sorted((r["gid"], r["doc_id"]) for r in ref.collect())
    rb = sorted((r["gid"], r["doc_id"]) for r in got.collect())
    assert ra == rb
    assert [g for g, _ in ra] == list(range(len(ra)))


def test_dense_global_ids_scalable_no_global_window(spark, sf_dir):
    """The executed plan must not contain an un-partitioned window
    (the single-task scale killer the variant exists to remove)."""
    from multi_search_retrival_big_data_spark import tables
    from multi_search_retrival_big_data_spark.operators import temporal

    import re

    docs = tables.load(spark, "documents", sf_dir).select("source", "doc_id")
    big = temporal.dense_global_ids(docs, ["source", "doc_id"], id_col="gid")
    plan = big._jdf.queryExecution().executedPlan().toString()
    # every row-level row_number window must be partitioned by the
    # physical partition id — never a global (un-partitioned) sort
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).startswith("__pid"), m.group(0)
    # the only un-partitioned window allowed is the prefix-sum over the
    # |partitions|-row counts relation (a sum, never a row_number)
    for m in re.finditer(r"Window \[(\w+)\(", plan):
        if m.group(1) == "row_number":
            assert "__pid" in plan[m.start() : m.start() + 120]
