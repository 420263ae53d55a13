"""Katz centrality — attenuated path-count importance.

Katz's public index (Psychometrika 1953; the standard network-analysis
formulation): every vertex starts with a base score β = 1 and each
iteration adds α-attenuated mass from in-neighbors,

    x_{t+1}(v) = 1 + α · Σ x_t(u)   over edges u→v,

which converges to β·(I − αAᵀ)⁻¹·1 when α < 1/λ_max.  Fourth iterative
ranking family next to LinkRank (reference scope, giraph-nutch
LinkRankComputation.java:50-107), HITS and SALSA — unlike those it needs
no degree normalization and no global L1 step, so each superstep is
exactly ONE equi-join + ONE aggregate and nothing else.

Scale posture: per step the only shuffle is the groupBy(dst) message sum
(map-side partial agg applies); vertices with no in-edges fall back to the
base score via left-join coalesce.  Every step is lineage-checkpointed
(same ~3^N re-execution guard as the rank loop).  The iteration count and
α are a shared CONTRACT with the unrolled-CTE DuckDB oracle
(queries/compq.py:_katz_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from giranking_spark.operators.linkrank import (
    _checkpoint,
    _checkpoint_nrows,
    _loop_edges,
    _state_side,
)

KATZ_ALPHA = 0.05
KATZ_ITERATIONS = 4


def katz_scores(
    edges: DataFrame,
    alpha: float = KATZ_ALPHA,
    iterations: int = KATZ_ITERATIONS,
) -> DataFrame:
    """(id, katz) after ``iterations`` Katz steps from x₀ = 1, rounded to 6.

    Scale shape (r13): the edge layout and the per-step join dispatch come
    from the shared loop helpers (operators/linkrank.py:_loop_edges,
    _state_side) — a broadcast-hash join that streams the cached edges
    with NO exchange or sort while the state fits, SHUFFLE_HASH on a
    hash(src)-persisted layout past the threshold. The message sum keeps
    its map-side partial aggregation and the epilogue left join is
    vertex-sized on both sides — both a fused union-aggregate variant and
    an unconditional repartition+persist were measured SLOWER at fixture
    scale (interleaved A/B; guide §1.1's fresh-ideal-plan gotcha).
    """
    e, state, bcast = _loop_edges(
        edges,
        lambda e: _checkpoint_nrows(
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.lit(1.0).alias("katz"))
        ),
    )
    for _ in range(iterations):
        s = _state_side(state.select(F.col("id").alias("src"), "katz"), bcast)
        sums = (
            e.join(s, "src")
            .groupBy(F.col("dst").alias("_tid"))
            .agg(F.sum("katz").alias("_msg"))
        )
        state = _checkpoint(
            state.join(sums, state["id"] == F.col("_tid"), "left").select(
                "id",
                (
                    F.lit(1.0)
                    + F.lit(alpha) * F.coalesce(F.col("_msg"), F.lit(0.0))
                ).alias("katz"),
            )
        )
    # state is checkpointed per iteration, so the returned plan never
    # re-reads e — release it (r14 unpersist discipline)
    e.unpersist()
    return state.select("id", F.round("katz", 6).alias("katz"))
