"""Sparse engine vs a NumPy re-implementation of sklearn's TF-IDF
math (smooth idf + L2 doc norm) — SURVEY.md §5 golden-math strategy."""

from __future__ import annotations

import ast
import math
import pathlib
import re
from collections import Counter

import pytest

from multi_search_retrival_big_data_spark import tables
from multi_search_retrival_big_data_spark.operators import sparse


def py_tfidf_scores(texts: dict[int, str], query: str) -> dict[int, float]:
    """Reference math: sklearn TfidfVectorizer(token_pattern=r'\\w+',
    lowercase=True, smooth_idf=True, norm='l2') cosine scores."""
    tok = lambda s: re.findall(r"\w+", s.lower())
    tfs = {d: Counter(tok(t)) for d, t in texts.items()}
    n = len(texts)
    df = Counter()
    for c in tfs.values():
        df.update(set(c))
    idf = {t: math.log((1 + n) / (1 + df[t])) + 1.0 for t in df}
    docvecs = {}
    for d, c in tfs.items():
        w = {t: tf * idf[t] for t, tf in c.items()}
        nrm = math.sqrt(sum(v * v for v in w.values()))
        docvecs[d] = {t: v / nrm for t, v in w.items()}
    qc = Counter(tok(query))
    qw = {t: c * idf[t] for t, c in qc.items() if t in idf}
    qn = math.sqrt(sum(v * v for v in qw.values()))
    qv = {t: v / qn for t, v in qw.items()}
    return {d: sum(qv[t] * docvecs[d].get(t, 0.0) for t in qv) for d in texts}


@pytest.fixture(scope="module")
def docs_py(spark, sf_dir):
    rows = tables.load(spark, "documents", sf_dir).select("doc_id", "text").collect()
    return {r.doc_id: r.text for r in rows}


def test_tfidf_scores_match_reference_math(spark, sf_dir, docs_py):
    query = "fast query join merge window"
    docs = tables.load(spark, "documents", sf_dir)
    postings = sparse.fit_tfidf(docs)
    got = sparse.tfidf_score(postings, sparse.query_terms(query), k=30).collect()
    exp = py_tfidf_scores(docs_py, query)
    exp_rank = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    assert [r.doc_id for r in got] == [d for d, _ in exp_rank]
    for r, (_, s) in zip(got, exp_rank):
        assert abs(r.score - s) < 1e-9


def test_tfidf_subset_equals_filtered_full(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    postings = sparse.fit_tfidf(docs)
    qt = sparse.query_terms("slow scan table")
    subset = docs.filter("lang = 'en'").select("doc_id")
    sub = sparse.tfidf_score(postings, qt, k=20, subset=subset).collect()
    full = sparse.tfidf_score(postings, qt, k=10**6).collect()
    allowed = {r.doc_id for r in subset.collect()}
    expected = [r.doc_id for r in full if r.doc_id in allowed][:20]
    assert [r.doc_id for r in sub] == expected


def test_bm25_prefers_rarer_terms(spark, sf_dir, docs_py):
    docs = tables.load(spark, "documents", sf_dir)
    post = sparse.fit_bm25(docs)
    got = sparse.bm25_score(post, sparse.query_terms("vector stream"), k=10).collect()
    assert len(got) == 10
    assert all(got[i].score >= got[i + 1].score for i in range(9))
    top_text = docs_py[got[0].doc_id].lower()
    assert "vector" in top_text or "stream" in top_text


def test_ngram_postings_contain_bigrams(spark, sf_dir):
    docs = tables.load(spark, "documents", sf_dir)
    postings = sparse.fit_tfidf(docs, ngram_range=(1, 2))
    sample = postings.filter("term LIKE '% %'").limit(5).collect()
    assert len(sample) == 5
    assert all(" " in r.term for r in sample)


def test_transform_tfidf_drops_oov_and_normalizes(spark):
    from multi_search_retrival_big_data_spark.operators import sparse

    base = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "alpha gamma")], ["doc_id", "text"]
    )
    model = sparse.fit_tfidf(base)
    delta = spark.createDataFrame(
        [(10, "beta beta NOVELWORD"), (11, "onlynovel tokens here")],
        ["doc_id", "text"],
    )
    out = sparse.transform_tfidf(delta, model).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["term"]] = r["weight"]
    # OOV terms vanish (sklearn transform semantics)
    assert set(by_doc[10]) == {"beta"}
    # a single surviving term L2-normalizes to weight 1.0
    assert abs(by_doc[10]["beta"] - 1.0) < 1e-12
    # a fully-OOV document contributes no postings at all
    assert 11 not in by_doc


def test_tfidf_incremental_append_matches_fit_plus_transform(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import sparse

    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.tfidf_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    docs = tables.load(spark, "documents", sf_dir)
    want = sparse.fit_tfidf(docs.filter(base_f)).cache()
    delta = sparse.transform_tfidf(docs.filter(f"({d1}) OR ({d2})"), want)
    key = lambda r: (r["term"], r["doc_id"], round(r["weight"], 9))  # noqa: E731
    expected = sorted(map(key, want.collect() + delta.collect()))
    assert sorted(map(key, t.collect())) == expected


def test_bm25_incremental_append_matches_fit_plus_transform(spark, sf_dir):
    from multi_search_retrival_big_data_spark import index_store, tables
    from multi_search_retrival_big_data_spark.operators import sparse

    base_f, (d1, d2) = index_store.incremental_split_filters(
        spark, sf_dir, table="documents", id_col="doc_id"
    )
    t = index_store.bm25_postings_incremental(
        spark, sf_dir, base_f, f"({d1}) OR ({d2})"
    )
    docs = tables.load(spark, "documents", sf_dir)
    base = docs.filter(base_f)
    want_base = sparse.fit_bm25(base).collect()
    idf, avgdl = sparse.bm25_model(sparse.term_counts(base), base)
    want_delta = sparse.transform_bm25(
        docs.filter(f"({d1}) OR ({d2})"), idf, avgdl
    ).collect()
    key = lambda r: (r["term"], r["doc_id"], round(r["score_w"], 9))  # noqa: E731
    assert sorted(map(key, t.collect())) == sorted(map(key, want_base + want_delta))


def test_transform_reproduces_fit_for_in_corpus_docs(spark):
    # Sharp invariant behind the append-parity proofs: for a document
    # that was IN the fitted corpus, transform under that corpus's
    # frozen model reproduces its fit postings bit-for-bit (weights
    # depend only on the doc's tf vector and the model idf).
    from multi_search_retrival_big_data_spark.operators import sparse

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma beta") for i in range(20)],
        ["doc_id", "text"],
    )
    fit = sparse.fit_tfidf(docs).cache()
    redone = sparse.transform_tfidf(docs, fit)
    key = lambda r: (r["term"], r["doc_id"], r["weight"], r["idf"])  # noqa: E731
    assert sorted(map(key, redone.collect())) == sorted(map(key, fit.collect()))


def test_bm25_transform_reproduces_fit_for_in_corpus_docs(spark):
    from multi_search_retrival_big_data_spark.operators import sparse

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma beta beta") for i in range(20)],
        ["doc_id", "text"],
    )
    fit = sparse.fit_bm25(docs).cache()
    idf, avgdl = sparse.bm25_model(sparse.term_counts(docs), docs)
    redone = sparse.transform_bm25(docs, idf, avgdl)
    key = lambda r: (r["term"], r["doc_id"], r["score_w"])  # noqa: E731
    assert sorted(map(key, redone.collect())) == sorted(map(key, fit.collect()))


def test_prf_expansion_excludes_original_terms_and_boosts(spark):
    from multi_search_retrival_big_data_spark.operators import sparse

    # corpus where 'apple' co-occurs with 'banana' in the docs matching
    # the query: PRF must elect 'banana' and pull in doc 4 (banana-only,
    # unreachable by the original query)
    docs = spark.createDataFrame(
        [
            (1, "apple banana"),
            (2, "apple banana"),
            (3, "apple cherry"),
            (4, "banana banana"),
            (5, "melon melon"),
        ],
        "doc_id BIGINT, text STRING",
    )
    postings = sparse.fit_tfidf(docs).cache()
    q = sparse.query_terms("apple")
    plain_ids = {r.doc_id for r in sparse.tfidf_score(postings, q, k=5, round_to=6).collect()}
    assert 4 not in plain_ids  # no 'apple' in doc 4
    prf = sparse.tfidf_prf_search(postings, q, k=5, n_fb=3, m_terms=1, round_to=6)
    rows = prf.collect()
    assert 4 in {r.doc_id for r in rows}  # expansion reached it
    assert all(r.score > 0 for r in rows)


def test_prf_is_deterministic(spark):
    from multi_search_retrival_big_data_spark.operators import sparse

    docs = spark.createDataFrame(
        [(i, f"term{i % 3} term{i % 5} shared") for i in range(20)],
        "doc_id BIGINT, text STRING",
    )
    postings = sparse.fit_tfidf(docs).cache()
    q = sparse.query_terms("shared")
    a = [(r.doc_id, r.score) for r in sparse.tfidf_prf_search(postings, q, k=10, round_to=6).collect()]
    b = [(r.doc_id, r.score) for r in sparse.tfidf_prf_search(postings, q, k=10, round_to=6).collect()]
    assert a == b


def _postings_reads(df) -> int:
    """Catalog-table leaves in the optimized plan — one per read of the
    persisted postings index (the only table these plans touch)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Relation spark_catalog." in line)


def test_query_norm_shares_the_single_idf_lookup(spark, sf_dir):
    """The query side reads the postings once (idf lookup, norm in the
    same pass) and the scoring join once more — a separate norm
    aggregate would add a third read and a nested-loop join. The query
    literal is a LocalTableScan, never a PythonRDD scan."""
    from multi_search_retrival_big_data_spark import index_store

    post = index_store.tfidf_postings(spark, sf_dir)
    single = sparse.tfidf_score(post, sparse.query_terms("slow scan table filter"), k=10)
    batch = sparse.batch_tfidf_score(
        post,
        {1: sparse.query_terms("slow scan table filter"), 2: sparse.query_terms("hash group")},
        k=10,
    )
    mc = index_store.multichannel_postings(
        spark, sf_dir, {"bbox": (1, 1), "color": (1, 1), "tag": (1, 1), "number": (1, 1)}
    )
    multi = sparse.multichannel_tfidf_score(
        mc, {"tag": [("scan", 1), ("window", 1)], "color": [("red", 2)]}, 10, 10
    )
    for df in (single, batch, multi):
        assert _postings_reads(df) == 2
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "NestedLoopJoin" not in plan


def test_sparse_scorers_degenerate_inputs(spark):
    """The sparse row of the degenerate-input contract: k=0, an empty
    query and an all-OOV query return no rows from every scorer; a null
    or empty text gets no postings but still counts in the corpus size
    n; a negative k raises a ValueError naming k in every scorer."""
    docs = tables.local_frame(
        spark,
        [(1, "alpha beta"), (2, "alpha gamma"), (3, None), (4, "")],
        "doc_id BIGINT, text STRING",
    )
    post = sparse.fit_tfidf(docs).cache()
    bm25 = sparse.fit_bm25(docs).cache()
    mc = sparse.fit_tfidf_multichannel(docs, {"w": (1, 1)}).cache()
    assert {r.doc_id for r in post.collect()} == {1, 2}
    assert {r.doc_id for r in mc.collect()} == {1, 2}
    idf = {r.term: r.idf for r in post.select("term", "idf").distinct().collect()}
    assert idf["alpha"] == pytest.approx(math.log(5 / 3) + 1.0, abs=1e-12)  # n = 4
    scorers = {
        "tfidf_score": lambda q, k: sparse.tfidf_score(post, q, k),
        "tfidf_prf_search": lambda q, k: sparse.tfidf_prf_search(post, q, k),
        "bm25_score": lambda q, k: sparse.bm25_score(bm25, q, k),
        "batch_tfidf_score": lambda q, k: sparse.batch_tfidf_score(post, {1: q}, k),
        "multichannel k_per_channel": lambda q, k: sparse.multichannel_tfidf_score(
            mc, {"w": q}, k, 10
        ),
        "multichannel k": lambda q, k: sparse.multichannel_tfidf_score(mc, {"w": q}, 10, k),
    }
    for name, score in scorers.items():
        assert len(score([("alpha", 1)], 10).collect()) == 2, name
        assert score([("alpha", 1)], 0).collect() == [], name
        assert score([], 10).collect() == [], name
        assert score([("zzzquux", 1)], 10).collect() == [], name
        with pytest.raises(ValueError, match=r"\bk\b"):
            score([("alpha", 1)], -1)


def test_one_rounding_spelling_in_operators():
    """Operators quantize and round only through functions/rounding:
    no `.cast("decimal(38,0)")` (a quantized sum) and no
    `floor(...).cast("double")` (a det_round) spelled out under
    operators/ or functions/, except two sums that are not
    quantized_sum's shape — the RRF addend 1e12/(k0+r) (one division,
    no multiply) and the occurrence-weighted scale-9 bigram sum."""
    pkg = pathlib.Path(sparse.__file__).parent.parent
    allowed = {
        ("operators/fusion.py", "reciprocal_rank_fusion"),
        ("operators/textanalysis.py", "char_bigram_lm_scores"),
    }

    def cast_to(node):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "cast"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            return node.args[0].value.replace(" ", "").lower()
        return None

    def is_floor(node):
        return isinstance(node, ast.Call) and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "floor")
            or (isinstance(node.func, ast.Name) and node.func.id == "floor")
        )

    offenders = []
    for sub in ("operators", "functions"):
        for path in sorted((pkg / sub).rglob("*.py")):
            rel = path.relative_to(pkg).as_posix()
            if rel == "functions/rounding.py":
                continue
            tree = ast.parse(path.read_text())
            funcs = [
                f
                for f in ast.walk(tree)
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                to = cast_to(node)
                quantize = to == "decimal(38,0)"
                rounding = to == "double" and is_floor(node.func.value)
                if not (quantize or rounding):
                    continue
                inside = [f for f in funcs if f.lineno <= node.lineno <= f.end_lineno]
                fn = min(inside, key=lambda f: f.end_lineno - f.lineno).name if inside else ""
                if (rel, fn) not in allowed:
                    offenders.append(f"{rel}:{node.lineno} ({fn})")
    assert not offenders, (
        "use functions/rounding.quantized_sum / det_round:\n" + "\n".join(offenders)
    )
