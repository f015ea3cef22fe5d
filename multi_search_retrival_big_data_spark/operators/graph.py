"""Graph operators: PageRank power iteration.

The reference has no graph computation; a 100 TB crawl pipeline does —
host/source-level link analysis is the standard corpus-quality prior
(Common Crawl publishes host-level harmonic/PageRank centrality and
training pipelines weight or threshold on it), and its dataflow shape
(iterate: join rank to edges, aggregate contributions per target) is
the canonical iterative Spark workload alongside k-means
(operators/kmeans.py) and connected components (operators/dedup.py).

Determinism contract (what makes a float fixed-point loop
oracle-checkable): contributions are summed with the quantized
DECIMAL(38,0) trick (functions/rounding.quantized_sum) so each round's
ranks are EXACT, order-independent doubles — identical in Spark and
DuckDB — and the iteration count is fixed (power iteration, not
convergence-gated), so both engines run the same number of rounds.
Scalar ops ((1−d)/N + d·s, r/outdeg) are single IEEE ops,
bit-deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from multi_search_retrival_big_data_spark.functions.rounding import quantized_sum

PAGERANK_DAMPING = 0.85
PAGERANK_SUM_SCALE = 12


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = PAGERANK_DAMPING,
    src: str = "src",
    dst: str = "dst",
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list → (node,
    rank) after exactly `iters` rounds from the uniform start:

        r_{t+1}(v) = (1−d)/N + d · (Σ_{u→v} r_t(u) / outdeg(u) [+ D_t/N])

    `redistribute_dangling=False` (simple variant): dangling nodes (no
    out-edges) leak their damped mass rather than redistributing it —
    production crawls using this form drop dangling hosts or add a
    sink node explicitly before calling.

    `redistribute_dangling=True` (production host-rank form): each
    round the dangling mass D_t = Σ_{outdeg(u)=0} r_t(u) is summed
    with the same quantized-DECIMAL trick (so D_t is an exact,
    order-independent double) and every node receives d·D_t/N on top
    of its in-link contributions — total rank mass is conserved at
    1 every round. Cost: ONE extra 1-row aggregate over the (tiny,
    checkpointed) dangling-node slice of the rank table per round,
    broadcast back as a scalar — no extra full-table shuffle.

    Scale shape: per round ONE equi-join of the edge list against the
    N-row rank table and ONE map-side-combined aggregate on the target
    node — the identical plan per round regardless of edge count, with
    `localCheckpoint` truncating lineage (the same loop discipline as
    dedup.connected_components_lss). Edges and outdegrees are computed once and
    cached; at 100 TB the edge table is persisted bucketed by `src` so
    the per-round join never re-shuffles it. Rounds are FIXED (power
    iteration): no per-round convergence action, so a round costs one
    shuffle, not one shuffle plus a count."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")).localCheckpoint()
    ewd = e.join(outdeg, "src").localCheckpoint()  # (src, dst, deg), built once
    dangling = None
    if redistribute_dangling:
        dangling = nodes.join(
            outdeg.select(F.col("src").alias("node")), "node", "left_anti"
        ).localCheckpoint()
    for _ in range(iters):
        contrib = (
            ewd.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(quantized_sum(F.col("rank") / F.col("deg"), PAGERANK_SUM_SCALE).alias("c"))
        )
        gain = F.coalesce("c", F.lit(0.0))
        joined = nodes.join(contrib, "node", "left")
        if dangling is not None:
            dmass = dangling.join(ranks, "node").agg(
                quantized_sum(F.col("rank"), PAGERANK_SUM_SCALE).alias("__dm")
            )
            joined = joined.crossJoin(F.broadcast(dmass))
            gain = gain + F.coalesce("__dm", F.lit(0.0)) / F.lit(float(n_nodes))
        ranks = (
            joined.select(
                "node",
                (F.lit(base) + F.lit(damping) * gain).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
