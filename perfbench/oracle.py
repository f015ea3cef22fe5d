"""Expected results for every benchmark op, computed with DuckDB from the
oracle SQL the engine's query registry already certifies.

search_serve requests reuse the registry's `endpoint_*` oracles with the
canned request swapped for the benchmark's request (query vector, anchor
id, panel, vote list, query terms). Each swap checks that the canned text
is still present, so a changed registry template fails loudly instead of
checking the wrong thing. curate_batch runs the registry oracles unchanged
on the generated corpus.

Every CTE is rewritten `AS MATERIALIZED`: DuckDB otherwise re-evaluates a
CTE at every reference, which makes the panel, diverse and
connected-components oracles 10-50x slower. Materializing a deterministic
CTE does not change its result.
"""

from __future__ import annotations

import json
import math
import os
import re
from decimal import Decimal
from unittest import mock

import duckdb

# The curation chain. dedup_cluster_components_capped and
# dedup_keep_canonical are left out: on corpora whose near duplicates form
# chains, their capped candidate path (LSH_MAX_BUCKET=3) drops verified
# pairs and they return other clusters than their uncapped registry
# oracles, so they would fail on some seeds. dedup_cluster_components runs
# the same components closure on the uncapped candidates.
CHAIN = (
    "text_quality_scores",
    "dedup_exact_groups",
    "dedup_minhash_lsh_capped",
    "dedup_cluster_components",
    "dedup_semantic_keep",
    "curation_pii_redaction",
    "pipeline_curation_end_to_end",
    "curation_shard_manifest",
)

_CTE_HEAD = re.compile(r"\b(\w+)\s*(?:\([^)]*\))?\s+AS\s+\(")
_PLAIN_HEAD = re.compile(r"\b(\w+) AS \((?=\s*SELECT)")


def materialize(sql: str) -> str:
    """Mark every CTE MATERIALIZED except a recursive CTE and the CTEs
    its body reads: DuckDB 1.0 intermittently returned a wrong MMR page
    (1 run in 12) when a materialized CTE was read inside the recursion."""
    heads = list(_CTE_HEAD.finditer(sql))
    names = {m.group(1) for m in heads}
    skip: set[str] = set()
    for i, m in enumerate(heads):
        body = sql[m.end() : heads[i + 1].start() if i + 1 < len(heads) else len(sql)]
        refs = set(re.findall(r"\b\w+\b", body)) & names
        if m.group(1) in refs:
            skip |= refs
    return _PLAIN_HEAD.sub(
        lambda m: m.group(0) if m.group(1) in skip else f"{m.group(1)} AS MATERIALIZED (",
        sql,
    )


def canon(columns: list[str], rows: list[tuple]) -> list[list]:
    """Order-insensitive canonical form: columns by name, every number as
    a float to 9 decimals (both engines det-round scores to 6, and an
    integer may come back as BIGINT from one engine and DOUBLE from the
    other), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if v is None or isinstance(v, bool):
            return v
        if isinstance(v, (int, float, Decimal)):
            f = float(v)
            return None if math.isnan(f) else round(f, 9)
        if isinstance(v, (list, tuple)):
            return [cell(x) for x in v]
        return str(v)

    out = [[cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps(r, default=str))
    return [[columns[i] for i in order]] + out


def _swap(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise RuntimeError(f"registry oracle template changed: {old[:60]!r} not found")
    return sql.replace(old, new)


def _query_vec(text: str) -> list[float]:
    from multi_search_retrival_big_data_spark import encoders

    return encoders.encode_query(text, encoders.FakeTextEncoder(), encoders.IdentityTranslator())


def request_sql(endpoint: str, req: dict) -> str:
    from multi_search_retrival_big_data_spark.operators import sparse
    from multi_search_retrival_big_data_spark.queries import load_registry
    from multi_search_retrival_big_data_spark.queries import rerank_queries as rq
    from multi_search_retrival_big_data_spark.queries import temporal_queries as tq
    from multi_search_retrival_big_data_spark.queries.common import sql_vec
    from multi_search_retrival_big_data_spark.queries.sparse_queries import tfidf_cte

    reg = load_registry()
    if endpoint == "text":
        sql = reg["endpoint_textsearch_grouped"].oracle
        return _swap(sql, sql_vec(tq._ENDPOINT_QV), sql_vec(_query_vec(req["text"])))
    if endpoint == "image":
        sql = reg["endpoint_image_search"].oracle
        return _swap(sql, "WHERE vec_id = 42", f"WHERE vec_id = {int(req['vec_id'])}")
    if endpoint == "panel":
        with mock.patch.object(tq, "_PANEL_REQUEST", req["panel"]):
            return tq._panel_oracle(50)
    if endpoint == "diverse":
        sql = reg["endpoint_diverse_search"].oracle
        sql = _swap(
            sql,
            tfidf_cte("dq_", (1, 1), rq._QS),
            tfidf_cte("dq_", (1, 1), sparse.query_terms(req["text"])),
        )
        return _swap(sql, rq._QV_SQL, sql_vec(_query_vec(req["text"])))
    if endpoint == "feedback":
        sql = reg["endpoint_feedback_rerank"].oracle
        sql = _swap(sql, sql_vec(tq._ENDPOINT_QV), sql_vec(_query_vec(req["text"])))
        pos, neg = tq._FEEDBACK_VOTES
        old = ", ".join([f"({i}, 1.0)" for i in pos] + [f"({i}, -1.0)" for i in neg])
        new = ", ".join([f"({i}, 1.0)" for i in req["pos"]] + [f"({i}, -1.0)" for i in req["neg"]])
        return _swap(sql, f"VALUES {old}", f"VALUES {new}")
    raise KeyError(endpoint)


def expected(cache_dir: str, sf_dir: str, sqls: dict[str, str]) -> dict[str, list[list]]:
    """Canonical expected rows per op key, computed once per seed and
    cached as JSON next to the generated inputs."""
    path = os.path.join(cache_dir, "expected.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if set(sqls) <= set(cached):
            return cached
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for key, sql in sqls.items():
            cur = con.execute(materialize(sql))
            cols = [d[0] for d in cur.description]
            out[key] = canon(cols, cur.fetchall())
    finally:
        con.close()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out
