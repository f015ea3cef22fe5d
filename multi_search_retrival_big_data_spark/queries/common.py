"""Shared helpers for the oracle-checked query suite.

ASCII-CORPUS ASSUMPTION (r8 advice): several multimodal/audio/video
oracles treat one CHARACTER of `documents.text` as one BYTE of the
fake media payload (`ord(substring(text, i, 1))` sums, length(text),
character rotation/slicing) while the Spark operators read the UTF-8
BYTES of `text` cast to binary. The two agree only while the corpus
is pure ASCII — a multi-byte character would silently diverge the
engines. The testdata corpus IS ASCII, and
tests/test_registry.py::test_corpus_is_ascii asserts it loudly so a
future corpus change fails as a named precondition, not as an opaque
oracle hash mismatch. Production ingest of non-ASCII media bytes is
unaffected (operators are byte-based; only the char-indexed ORACLES
assume ASCII)."""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# det_round is re-exported: the query modules import it from here
from multi_search_retrival_big_data_spark.functions.rounding import (
    det_round,  # noqa: F401
    quantized_sum,
)

EMB_DIM = 64
SCORE_DECIMALS = 6

# Deterministic pseudo-random query vector (pure function of index; no
# RNG state) shared verbatim by the Spark plan and the DuckDB oracle.
QUERY_VEC = [round(math.sin(i * 12.9898 + 78.233) * 0.5, 6) for i in range(EMB_DIM)]
QUERY_VEC_B = [round(math.cos(i * 3.1717 + 1.618) * 0.5, 6) for i in range(EMB_DIM)]


def sql_vec(vec: Sequence[float]) -> str:
    """Render a vector as a DuckDB DOUBLE[] literal."""
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]::DOUBLE[]"


def dsum(col: Column, scale: int = 6) -> Column:
    """Order-independent, engine-independent sum of a double expression.

    Two hazards make a plain SUM(double) un-comparable across engines:
    (1) float addition is not associative, so Spark's partial-agg order
    vs DuckDB's sequential order diverge; (2) double→DECIMAL casts
    round differently (Spark goes through the shortest string repr via
    BigDecimal.valueOf, DuckDB through the binary value), so even
    decimal sums drift by an ulp.

    Fix: quantize each addend with FLOOR(x·10^s + 0.5) — multiply, add,
    floor are all exact IEEE ops with bit-identical results in any
    engine — then sum exactly as DECIMAL(38,0) (commutative), and
    divide back to double. Valid while |x|·10^s < 2^53 per row.
    The expression is functions/rounding.quantized_sum's; only the
    default scale differs (6 here, 12 there)."""
    return quantized_sum(col, scale)


def sql_dsum(expr: str, scale: int = 6) -> str:
    m = f"1e{scale}"
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * {m} + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / {m})"
    )


def sql_det_round(expr: str, scale: int = 6) -> str:
    m = f"1e{scale}"
    return f"(CAST(FLOOR(({expr}) * {m} + 0.5) AS DOUBLE) / {m})"


def grid_hits(topk_ids, exact, id_col: str = "vec_id"):
    """1-row agg: |topk ∩ exact| as `hits`. Both sides carry UNIQUE
    ids (each is a top-k / limit output), so the left-semi count
    equals the inner-join count — the shared tail of every recall
    grid."""
    return (
        topk_ids.select(id_col)
        .join(exact, id_col, "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def grid_row(k: int, n_hits, n_cand=None, **config):
    """One recall-grid output row: config literal columns (insertion
    order), then k, [candidates,] hits, recall = hits/k (int/int
    double division — bit-exact in both engines). When `n_cand` (a
    1-row agg with column `candidates`) is given it is combined with
    the 1-row `n_hits` agg via the scalar crossJoin the plan audit
    allowlists (SCALAR_BROADCAST_OK) — both inputs are single-row
    aggregates, never corpus-sized."""
    cols = [F.lit(v).alias(name) for name, v in config.items()]
    cols.append(F.lit(k).alias("k"))
    base = n_hits if n_cand is None else n_cand.crossJoin(n_hits)
    if n_cand is not None:
        cols.append(F.col("candidates"))
    cols.append(F.col("hits"))
    cols.append((F.col("hits").cast("double") / F.lit(float(k))).alias("recall"))
    return base.select(*cols)


def union_rows(rows):
    """Union a non-empty list of same-schema 1-row DataFrames (the
    per-config rows of a recall grid)."""
    out = rows[0]
    for r in rows[1:]:
        out = out.union(r)
    return out
