"""Dense operators vs NumPy reference math (SURVEY.md §5 strategy 2:
engine == reference-math on the same inputs)."""

from __future__ import annotations

import ast
import os
import pathlib
import pickle
import re
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.encoders import dim_expand_encode
from multi_search_retrival_big_data_spark.functions.rounding import det_round
from multi_search_retrival_big_data_spark.functions.vector import cosine_sim, lit_vec
from multi_search_retrival_big_data_spark.operators import dense
from multi_search_retrival_big_data_spark.queries.common import QUERY_VEC


@pytest.fixture(scope="module")
def emb_np(spark, sf_dir):
    rows = tables.load(spark, "embeddings", sf_dir).select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def np_cosine_topk(ids, mat, q, k):
    q = np.asarray(q, dtype=np.float64)
    scores = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    # stable sort on (-score, id): ids already ascending, argsort stable
    order = np.argsort(-scores, kind="stable")[:k]
    return ids[order], scores[order]


def test_topk_cosine_matches_numpy(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    got = dense.topk_cosine(emb, QUERY_VEC, k=25).collect()
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    exp_ids, exp_scores = np_cosine_topk(ids[order], mat[order], QUERY_VEC, 25)
    assert [r.vec_id for r in got] == exp_ids.tolist()
    np.testing.assert_allclose([r.score for r in got], exp_scores, rtol=0, atol=1e-9)


def test_topk_subset_is_filter_of_full(spark, sf_dir):
    """Property: subset search == full search restricted to subset
    (reference IDSelectorArray semantics)."""
    emb = tables.load(spark, "embeddings", sf_dir)
    subset = emb.filter("label < 3").select("vec_id")
    sub = dense.topk_cosine(emb, QUERY_VEC, k=10, subset=subset).collect()
    full = dense.topk_cosine(emb, QUERY_VEC, k=10**6).collect()
    allowed = {r.vec_id for r in subset.collect()}
    expected = [r.vec_id for r in full if r.vec_id in allowed][:10]
    assert [r.vec_id for r in sub] == expected


def test_knn_by_id_self_is_top1(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    got = dense.knn_by_id(emb, query_id=7, k=5).collect()
    assert got[0].vec_id == 7
    assert abs(got[0].score - 1.0) < 1e-9


def test_rocchio_negative_votes_removed_and_scores_shift(spark, sf_dir, emb_np):
    emb = tables.load(spark, "embeddings", sf_dir)
    candidates = dense.topk_cosine(emb, QUERY_VEC, k=10)
    votes = spark.createDataFrame([(3, 1.0), (11, -1.0)], "vec_id BIGINT, sign DOUBLE")
    got = dense.rocchio_rerank(emb, candidates, votes, k=10).collect()
    got_ids = {r.vec_id for r in got}
    assert 11 not in got_ids  # negative vote dropped from candidates
    # hand-compute expectation
    ids, mat = emb_np
    cand = candidates.collect()
    pos = mat[np.searchsorted(ids, 3)]
    neg = mat[np.searchsorted(ids, 11)]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    exp = {}
    for r in cand:
        if r.vec_id == 11:
            continue
        v = mat[np.searchsorted(ids, r.vec_id)]
        exp[r.vec_id] = r.score + cos(v, pos) - cos(v, neg)
    for r in got:
        assert abs(r.score - exp[r.vec_id]) < 1e-9


def test_vocab_knn_l2_orders_ascending(spark, sf_dir):
    emb = tables.load(spark, "embeddings", sf_dir)
    got = dense.vocab_knn_l2(emb, QUERY_VEC, k=20).collect()
    dists = [r.dist for r in got]
    assert dists == sorted(dists)


def _catalyst_scores(emb, qv, round_to):
    """In-test reference: the Catalyst `det_round(cosine_sim(...))`
    projection, {id: score} (None for a NULL score)."""
    score = cosine_sim("embedding", lit_vec(qv))
    if round_to is not None:
        score = det_round(score, round_to)
    return {r.vec_id: r.s for r in emb.select("vec_id", score.alias("s")).collect()}


def _ranked(scores, k):
    """(score DESC NULLS LAST, id ASC) top-k of an {id: score} map."""
    key = lambda kv: (kv[1] is None, -(kv[1] or 0.0), kv[0])  # noqa: E731
    return [(i, sc) for i, sc in sorted(scores.items(), key=key)][:k]


def _wide(spark, sf_dir, dim):
    emb = tables.load(spark, "embeddings", sf_dir)
    if dim == 64:
        return emb, list(QUERY_VEC)
    return dense.expand_to_dim(emb, out_dim=dim, in_dim=64), dim_expand_encode(QUERY_VEC, 64, dim)


def test_topk_cosine_arrow_matches_sql_path(spark, sf_dir):
    """The one cosine kernel (an Arrow batch fold) is bit-equal to the
    Catalyst SQL expression at d=64: every row's score, rounded or
    raw, and therefore the top-k rows and order."""
    emb, qv = _wide(spark, sf_dir, 64)
    for round_to in (6, None):
        want = _catalyst_scores(emb, qv, round_to)
        got = dense.topk_cosine(emb, qv, k=len(want) + 1, round_to=round_to).collect()
        assert {r.vec_id: r.score for r in got} == want, round_to
        assert [(r.vec_id, r.score) for r in got[:50]] == _ranked(want, 50), round_to


def test_topk_cosine_arrow_matches_expr_at_768(spark, sf_dir):
    """The same bit-equality at the production width (reference CLIP,
    d=768): no width gate, one kernel."""
    wide, qv = _wide(spark, sf_dir, 768)
    for round_to in (6, None):
        want = _catalyst_scores(wide, qv, round_to)
        got = dense.topk_cosine(wide, qv, k=len(want) + 1, round_to=round_to).collect()
        assert {r.vec_id: r.score for r in got} == want, round_to
        assert [(r.vec_id, r.score) for r in got[:25]] == _ranked(want, 25), round_to


def test_batch_topk_cosine_matches_per_query(spark, sf_dir):
    """Batched scoring == the Catalyst reference ranked per query,
    bit for bit (the map-side partial top-k drops nothing)."""
    emb = tables.load(spark, "embeddings", sf_dir)
    queries = [(0, QUERY_VEC), (1, [-v for v in QUERY_VEC])]
    batched = dense.batch_topk_cosine(emb, queries, k=10, round_to=6).collect()
    for qid, qvec in queries:
        got = [(r.vec_id, r.score) for r in batched if r.query_id == qid]
        assert got == _ranked(_catalyst_scores(emb, qvec, 6), 10)


def test_topk_cosine_degenerate_inputs(spark):
    """The kernel's contract on degenerate inputs, each the Catalyst
    expression's (non-ANSI) answer: a zero-norm row scores NULL and
    ranks after every scored row; a NaN element scores 0.0 (FLOOR →
    LONG maps NaN to 0); an empty frame and k > N behave like any
    top-k; a query of another width raises a ValueError naming both."""
    rows = [
        (1, [0.0, 0.0]),
        (2, [1.0, float("nan")]),
        (3, [1.0, 1.0]),
        (4, [0.0, 1.0]),
        (5, [-1.0, 0.0]),
    ]
    df = tables.local_frame(spark, rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    q = [1.0, 0.0]
    got = [(r.vec_id, r.score) for r in dense.topk_cosine(df, q, k=10, round_to=6).collect()]
    assert got == [(3, 0.707107), (2, 0.0), (4, 0.0), (5, -1.0), (1, None)]
    assert got == _ranked(_catalyst_scores(df, q, 6), 10)
    assert dense.topk_cosine(df, q, k=2, round_to=6).collect()[1].vec_id == 2
    assert dense.topk_cosine(df.limit(0), q, k=10, round_to=6).collect() == []
    with pytest.raises(Exception, match=r"ValueError: query dim 3 does not match corpus dim 2"):
        dense.topk_cosine(df, [1.0, 0.0, 0.0], k=10).collect()


def test_cosine_kernel_unpickles_without_the_package(tmp_path):
    """The batch functions of the cosine kernel run in Python workers,
    which need not have this package on their path: the kernel must
    travel by value. Unpickled and run in a fresh interpreter whose
    path lacks the checkout, it returns the same bits."""
    from pyspark import cloudpickle

    from multi_search_retrival_big_data_spark.functions import cosine

    a = np.array([[1.0, 2.0], [0.0, 0.0], [3.0, -1.0]])
    q = np.array([2.0, 1.0])
    qn = float(cosine.row_norms(q[None, :])[0])
    payload = cloudpickle.dumps((cosine.cosine_rows, cosine.row_norms, a, q, qn))
    code = (
        "import pickle, sys\n"
        "f, n, a, q, qn = pickle.loads(sys.stdin.buffer.read())\n"
        "sys.stdout.buffer.write(pickle.dumps(f(a, q, n(a), qn, 6)))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=payload,
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    want = cosine.cosine_rows(a, q, cosine.row_norms(a), qn, 6)
    np.testing.assert_array_equal(pickle.loads(out.stdout), want)


def test_one_cosine_kernel_in_package():
    """Literal-query ranks and pair verifies go through the dense
    kernel: no `cosine_sim(..., lit_vec(...))` outside operators/dense.py
    (directly or through a name bound to a lit_vec), and none of the
    retired twin spellings, width gate or strategy knob comes back."""
    pkg = pathlib.Path(dense.__file__).parent.parent
    retired = re.compile(
        r"\b(topk_cosine_arrow|batch_topk_cosine_arrow|ranked_cosine_topk"
        r"|ARROW_RANK_MIN_DIM|score_pairs_arrow|_cosine_verify_pairs"
        r"|dense_global_ids_scalable)\b|\bstrategy="
    )

    def called(node, name):
        f = node.func if isinstance(node, ast.Call) else None
        return (isinstance(f, ast.Name) and f.id == name) or (
            isinstance(f, ast.Attribute) and f.attr == name
        )

    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg)
        src = path.read_text()
        for lineno, line in enumerate(src.splitlines(), 1):
            if retired.search(line):
                offenders.append(f"{rel}:{lineno}: {line.strip()}")
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for a in fn.args.args + fn.args.kwonlyargs:
                    if a.arg in ("strategy", "normalized"):
                        offenders.append(f"{rel}:{fn.lineno}: {fn.name}({a.arg}=)")
        if rel == pathlib.Path("operators/dense.py"):
            continue
        lit_names = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and called(n.value, "lit_vec")
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            if called(n, "cosine_sim") and any(
                called(a, "lit_vec") or (isinstance(a, ast.Name) and a.id in lit_names)
                for a in n.args
            ):
                offenders.append(f"{rel}:{n.lineno}: cosine_sim over a literal vector")
    assert not offenders, "use dense.topk_cosine / dense.cosine_pairs:\n" + "\n".join(offenders)


def test_expand_to_dim_matches_driver_encode(spark, sf_dir):
    """The corpus-side d=768 expansion (dense.expand_to_dim) and the
    driver-side query encoding (encoders.dim_expand_encode) apply the
    SAME md5-derived components — per-row float-exact up to the
    double→float storage cast."""
    emb = tables.load(spark, "embeddings", sf_dir)
    rows = (
        dense.expand_to_dim(emb, out_dim=768, in_dim=64)
        .filter(F.col("vec_id").isin(0, 7))
        .collect()
    )
    base = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(0, 7)).collect()
    }
    for r in rows:
        want = dim_expand_encode(base[r["vec_id"]], 64, 768)
        got = list(r["embedding"])
        assert len(got) == 768
        np.testing.assert_array_equal(
            np.asarray(got, dtype=np.float32),
            np.asarray(want, dtype=np.float64).astype(np.float32),
        )
