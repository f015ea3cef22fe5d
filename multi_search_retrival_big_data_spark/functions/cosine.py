"""The package's one cosine kernel: NumPy over an Arrow batch, bit-equal
to the Catalyst expression `det_round(cosine_sim(a, b), r)` at any width.

`operators/dense.topk_cosine`, `batch_topk_cosine` and `cosine_pairs`
(and SemDeDup's cell re-verify) call it from inside `mapInPandas` /
`applyInPandas` functions, so it runs in Python workers. Those workers
do not see the driver's `sys.path` (a job started outside the checkout
cannot import this package there), so the module registers itself with
PySpark's cloudpickle BY VALUE: a batch function that calls it carries
the kernel's code instead of an import of the package.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle


def fold(p: np.ndarray) -> np.ndarray:
    """Row totals of `p` as the sequential left fold `((0.0+p0)+p1)+…`
    — Catalyst's aggregate(zip_with(...), 0.0, acc + x) and DuckDB's
    list_dot_product. A prefix scan is by definition that fold (a
    pairwise regrouping could not produce the prefixes); adding the
    0.0 seed to the first column only turns a -0.0 first addend into
    +0.0, which is what the fold's `0.0 + x` does. Overwrites `p`."""
    p[:, 0] += 0.0
    return np.cumsum(p, axis=1, out=p)[:, -1]


def row_norms(m: np.ndarray) -> np.ndarray:
    """Per-row l2_norm: the fold over squares, then the correctly
    rounded np.sqrt (== Math.sqrt)."""
    return np.sqrt(fold(m * m))


def cosine_rows(
    a: np.ndarray,
    b: np.ndarray,
    na: np.ndarray | float,
    nb: np.ndarray | float,
    round_to: int | None,
) -> np.ndarray:
    """Row-wise `det_round(cosine_sim(a, b), round_to)` of a (n, d)
    against b ((n, d), or one (d,) query), given the rows' norms: the
    dot is `fold`, the norms `row_norms`, the score the same single
    divide `dot / (na·nb)`, and det_round's floor(x·10^r + 0.5)/10^r is
    exact IEEE multiply/add/floor — so the bits equal Catalyst's.

    Degenerate rows follow the non-ANSI Catalyst spelling: a zero norm
    makes the divisor 0, which Spark's divide turns into NULL (returned
    here as NaN, which the Arrow conversion writes as NULL; it ranks
    after every scored row); a NaN or Inf element gives a NaN cosine,
    which det_round's FLOOR → LONG cast maps to 0 (±Inf saturates at
    ±2⁶³), so it scores 0.0. Unrounded (`round_to=None`) a NaN cosine
    stays NaN and so also surfaces as NULL."""
    den = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        s = fold(a * b) / den
        if round_to is not None:
            scale = float(10**round_to)
            f = np.clip(np.floor(s * scale + 0.5), -(2.0**63), 2.0**63)
            f[np.isnan(f)] = 0.0
            s = f / scale
    s[np.broadcast_to(den == 0, s.shape)] = np.nan
    return s


def as_matrix(vecs: pd.Series, dim: int) -> np.ndarray:
    """An Arrow batch's vector column as one float64 (n, dim) matrix
    (float → double is exact, as Catalyst's array<double> cast);
    raises ValueError naming both widths when a row is not `dim` long
    (Catalyst's zip_with would silently pad and score NULL)."""
    try:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
    except ValueError:
        m = None
    if m is None or m.ndim != 2 or m.shape[1] != dim:
        found = ", ".join(str(n) for n in sorted({len(v) for v in vecs}))
        raise ValueError(f"query dim {dim} does not match corpus dim {found}")
    return m


def partial_topk(ids: np.ndarray, s: np.ndarray, k: int) -> np.ndarray:
    """Positions of a batch's first k rows in (score DESC NULLS LAST,
    id ASC) order — the map-side partial top-k (the global top-k is a
    subset of the union of per-batch top-ks). NaN, the NULL marker,
    sorts last under np.lexsort."""
    if len(ids) <= k:
        return np.arange(len(ids))
    return np.lexsort((ids, -s))[:k]


cloudpickle.register_pickle_by_value(sys.modules[__name__])
